"""B/C/D-ops: projection/filter, joins, aggregations (SURVEY.md §2).

All pure DataFrame plans — Catalyst handles pushdown, pruning, join
strategy selection (broadcast vs sort-merge vs BNLJ) and AQE handles
skew/coalescing at runtime. Conventions: every computed column aliased,
float aggregates rounded, timestamps surfaced as date-strings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from json2hbase_spark.functions import exact
from json2hbase_spark.io import load, register_views
from json2hbase_spark.registry import query

# ---------------------------------------------------------------- B ops


@query(
    "b1_project",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_quantity AS qty,
           l_extendedprice * (1 - l_discount) AS disc_price,
           l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge
    FROM lineitem
    """,
)
def b1_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").alias("qty"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("disc_price"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))).alias(
            "charge"
        ),
    )


@query(
    "b2_filter",
    oracle="""
    SELECT p_partkey, p_name, p_brand, p_size, p_retailprice
    FROM part
    WHERE p_size BETWEEN 10 AND 30
      AND p_brand IN ('Brand#1', 'Brand#3', 'Brand#5', 'Brand#12', 'Brand#21')
      AND NOT (p_retailprice < 920.0)
      AND p_name LIKE '%o%'
      AND regexp_matches(p_type, '^(ECONOMY|PROMO|SMALL)')
      AND p_name IS NOT NULL
    """,
)
def b2_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part")
    return p.filter(
        F.col("p_size").between(10, 30)
        & F.col("p_brand").isin("Brand#1", "Brand#3", "Brand#5", "Brand#12", "Brand#21")
        & ~(F.col("p_retailprice") < 920.0)
        & F.col("p_name").like("%o%")
        & F.col("p_type").rlike("^(ECONOMY|PROMO|SMALL)")
        & F.col("p_name").isNotNull()
    ).select("p_partkey", "p_name", "p_brand", "p_size", "p_retailprice")


@query(
    "b3_cast_case",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderkey AS VARCHAR) AS key_str,
           CAST(floor(o_totalprice) AS BIGINT) AS price_floor,
           CASE WHEN o_totalprice > 200000 THEN 'big'
                WHEN o_totalprice > 50000 THEN 'mid'
                ELSE 'small' END AS bucket,
           coalesce(nullif(o_orderstatus, 'P'), 'PENDING') AS status_norm
    FROM orders
    """,
)
def b3_cast_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.col("o_orderkey").cast("string").alias("key_str"),
        F.floor("o_totalprice").cast("bigint").alias("price_floor"),
        F.when(F.col("o_totalprice") > 200000, "big")
        .when(F.col("o_totalprice") > 50000, "mid")
        .otherwise("small")
        .alias("bucket"),
        F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("P")), F.lit("PENDING")).alias(
            "status_norm"
        ),
    )


# ---------------------------------------------------------------- C ops


@query(
    "c1_join_broadcast",
    oracle="""
    SELECT p_brand,
           COUNT(*) AS n_items,
           SUM(l_quantity) AS sum_qty
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
    """,
)
def c1_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-dim equi join: explicit broadcast hint keeps the fact-table
    scan shuffle-free (map-side hash join) — the right plan at 100 TB
    when the dim fits in executor memory."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_items"),
            F.sum("l_quantity").alias("sum_qty"),
        )
    )


@query(
    "c2_join_smj",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) AS n_lines,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderstatus
    """,
)
def c2_join_smj(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-large equi join — planner picks sort-merge (or shuffled
    hash under AQE); both sides shuffle on the join key once."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_lines"),
            exact.e(exact.SUM_REVENUE, "revenue"),
        )
    )


@query(
    "c3_join_outer",
    oracle="""
    SELECT c_mktsegment,
           COUNT(*) AS n_rows,
           COUNT(o_orderkey) AS n_orders,
           CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orderless
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_mktsegment
    """,
)
def c3_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_rows"),
            F.count("o_orderkey").alias("n_orders"),
            F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0)).alias("n_orderless"),
        )
    )


@query(
    "c4_join_semi",
    oracle="""
    SELECT c_nationkey, COUNT(*) AS n_customers
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY c_nationkey
    """,
)
def c4_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_customers"))
    )


@query(
    "c5_join_anti",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS n_customers
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
    GROUP BY c_mktsegment
    """,
)
def c5_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
    )


@query(
    "c6_join_theta",
    oracle="""
    SELECT a.o_orderstatus, COUNT(*) AS n_pairs
    FROM orders a JOIN orders b
      ON a.o_custkey = b.o_custkey AND a.o_orderdate < b.o_orderdate
    GROUP BY a.o_orderstatus
    """,
)
def c6_join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi + range predicate: planner does a hash join on the equi part
    with the range predicate as a post-join filter — far better than a
    pure BNLJ at scale (the equi key bounds the pair space)."""
    o = load(spark, sf_dir, "orders")
    a = o.alias("a")
    b = o.alias("b")
    return (
        a.join(
            b,
            (F.col("a.o_custkey") == F.col("b.o_custkey"))
            & (F.col("a.o_orderdate") < F.col("b.o_orderdate")),
        )
        .groupBy(F.col("a.o_orderstatus").alias("o_orderstatus"))
        .agg(F.count("*").alias("n_pairs"))
    )


@query(
    "c8_join_star",
    oracle="""
    SELECT n_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation   ON c_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name IN ('ASIA', 'EUROPE')
      AND o_orderdate >= TIMESTAMP '1996-01-01'
    GROUP BY n_name
    """,
)
def c8_join_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-way star join (TPC-H Q5 shape): fact table shuffles once
    per big join; nation/region/customer broadcast so the star closes
    without extra fact shuffles. CBO/AQE reorder as stats allow."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderdate") >= F.lit("1996-01-01"))
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name").isin("ASIA", "EUROPE"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            exact.e(exact.SUM_REVENUE, "revenue"),
            F.count("*").alias("n_lines"),
        )
    )


@query(
    "c9_join_cross",
    oracle="""
    SELECT r_name, n_name
    FROM region CROSS JOIN nation
    """,
)
def c9_join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load(spark, sf_dir, "region")
    n = load(spark, sf_dir, "nation")
    return r.crossJoin(n).select("r_name", "n_name")


# ---------------------------------------------------------------- D ops


@query(
    "d1_agg_hash",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           SUM(l_quantity) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
           SUM(l_quantity) / COUNT(*) AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_price,
           CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def d1_agg_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: TPC-H Q1-style pricing summary — partial (map-side)
    + final hash aggregation over a low-cardinality key."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            exact.e(exact.dec_sum("l_extendedprice"), "sum_base_price"),
            exact.e(exact.SUM_REVENUE, "sum_disc_price"),
            exact.e(exact.SUM_CHARGE, "sum_charge"),
            F.expr("SUM(l_quantity) / COUNT(*)").alias("avg_qty"),
            F.expr(exact.dec_sum("l_extendedprice") + " / COUNT(*)").alias("avg_price"),
            F.expr(exact.dec_sum("l_discount", 4, 2) + " / COUNT(*)").alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@query(
    "d2_agg_distinct",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT l_suppkey) AS n_supps,
           COUNT(*) AS n_lines
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def d2_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.count("*").alias("n_lines"),
    )


@query(
    "d3_agg_approx",
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS exact_users,
           COUNT(*) AS n_events,
           TRUE AS within_tol
    FROM events
    GROUP BY event_type
    """,
)
def d3_agg_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate count-distinct (HyperLogLog++): constant-memory
    per group — the 100 TB substitute for exact distinct counts.

    Tolerance oracle: the raw HLL estimate is engine-specific, so the
    output carries the EXACT distinct count (hash-checked against
    DuckDB) plus ``within_tol`` = |approx − exact| ≤ 3·rsd·exact,
    which the oracle asserts TRUE — a hash mismatch now means the
    estimator itself drifted out of its accuracy contract.

    NOTE (oracle semantics): HLL++ is deterministic on a fixed fixture,
    so this cannot flake run-to-run; but a within_tol failure right
    after a fixture/scale change means "re-validate the 3·rsd band for
    the new data", not "the plan regressed". Same applies to h9's
    p45–p55 percentile band."""
    ev = load(spark, sf_dir, "events")
    rsd = 0.02
    agg = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd).alias("_approx"),
        F.countDistinct("user_id").alias("exact_users"),
        F.count("*").alias("n_events"),
    )
    tol = F.lit(3.0 * rsd) * F.col("exact_users").cast("double")
    return agg.select(
        "event_type",
        "exact_users",
        "n_events",
        (F.abs(F.col("_approx").cast("double") - F.col("exact_users")) <= tol).alias(
            "within_tol"
        ),
    )


@query(
    "d4_agg_having",
    oracle="""
    SELECT o_custkey,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_spend
    FROM orders
    GROUP BY o_custkey
    HAVING COUNT(*) >= 12 AND SUM(CAST(o_totalprice AS DECIMAL(12,2))) > 1000000
    """,
)
def d4_agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_orders"),
            exact.e(exact.dec_sum("o_totalprice"), "total_spend"),
        )
        .filter((F.col("n_orders") >= 12) & (F.col("total_spend") > 1000000))
    )


@query(
    "d5_agg_rollup",
    oracle="""
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           GROUPING(l_returnflag, l_linestatus) AS gid,
           SUM(l_quantity) AS sum_qty,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def d5_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().alias("gid"),
            F.sum("l_quantity").alias("sum_qty"),
            F.count("*").alias("n"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "gid",
            "sum_qty",
            "n",
        )
    )


@query(
    "d6_agg_cube",
    oracle="""
    SELECT coalesce(o_orderstatus, 'ALL') AS status,
           coalesce(o_orderpriority, 'ALL') AS priority,
           GROUPING(o_orderstatus, o_orderpriority) AS gid,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def d6_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id().alias("gid"),
            F.count("*").alias("n"),
            exact.e(exact.dec_sum("o_totalprice"), "total"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "gid",
            "n",
            "total",
        )
    )


@query(
    "d7_agg_grouping_sets",
    oracle="""
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def d7_agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit grouping sets via the SQL path (SURVEY §3.4)."""
    register_views(spark, sf_dir, only=("lineitem",))
    return spark.sql(
        """
        SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
               coalesce(l_linestatus, 'ALL') AS linestatus,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price,
               COUNT(*) AS n
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@query(
    "d8_agg_conditional",
    oracle="""
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN l_returnflag = 'A' THEN CAST(l_extendedprice AS DECIMAL(12,2)) END) AS DOUBLE) AS sum_a,
           CAST(SUM(CASE WHEN l_returnflag = 'N' THEN CAST(l_extendedprice AS DECIMAL(12,2)) END) AS DOUBLE) AS sum_n,
           CAST(SUM(CASE WHEN l_returnflag = 'R' THEN CAST(l_extendedprice AS DECIMAL(12,2)) END) AS DOUBLE) AS sum_r,
           COUNT(CASE WHEN l_quantity > 25 THEN 1 END) AS n_bulk
    FROM lineitem
    GROUP BY l_linestatus
    """,
)
def d8_agg_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    def cond_sum(flag: str) -> str:
        return (
            f"CAST(SUM(CASE WHEN l_returnflag = '{flag}' "
            "THEN CAST(l_extendedprice AS DECIMAL(12,2)) END) AS DOUBLE)"
        )

    return li.groupBy("l_linestatus").agg(
        exact.e(cond_sum("A"), "sum_a"),
        exact.e(cond_sum("N"), "sum_n"),
        exact.e(cond_sum("R"), "sum_r"),
        F.count(F.when(F.col("l_quantity") > 25, 1)).alias("n_bulk"),
    )


@query(
    "d9_agg_collect",
    oracle="""
    SELECT o_orderpriority,
           array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',') AS statuses,
           COUNT(*) AS n
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def d9_agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group ordered collection — sorted so output is deterministic
    (collect_set order is not)."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.concat_ws(",", F.sort_array(F.collect_set("o_orderstatus"))).alias("statuses"),
        F.count("*").alias("n"),
    )


@query(
    "d10_agg_stats",
    oracle="""
    SELECT l_returnflag,
           round(stddev_samp(l_quantity), 4) AS sd_qty,
           round(var_samp(l_quantity), 4) AS var_qty,
           round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
           median(l_quantity) AS med_qty,
           round(quantile_cont(l_extendedprice, 0.9), 2) AS p90_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def d10_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
        F.round(F.var_samp("l_quantity"), 4).alias("var_qty"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qty_price"),
        F.median("l_quantity").alias("med_qty"),
        F.round(F.percentile("l_extendedprice", 0.9), 2).alias("p90_price"),
    )


# ---------------------------------------------------------------- f4/d11/d12


@query(
    "f4_sample_det",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem
    WHERE md5(concat(CAST(l_orderkey AS VARCHAR), '#', CAST(l_linenumber AS VARCHAR))) < '0d'
    """,
)
def f4_sample_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~5% sample via a hash threshold on the natural key
    (md5 prefix < '0d' ⇒ 13/256 ≈ 5.1%). Unlike TABLESAMPLE/
    df.sample, the selection is content-addressed: stable across runs,
    partitionings, and engines — the property a reproducible
    training-data pipeline needs. Pure scan + filter, no shuffle."""
    li = load(spark, sf_dir, "lineitem")
    key = F.concat_ws("#", F.col("l_orderkey").cast("string"), F.col("l_linenumber").cast("string"))
    return li.filter(F.md5(key) < "0d").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )


@query(
    "d11_pivot",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) FILTER (o_orderstatus = 'F') AS n_f,
           COUNT(*) FILTER (o_orderstatus = 'O') AS n_o,
           COUNT(*) FILTER (o_orderstatus = 'P') AS n_p,
           CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(12,2))) FILTER (o_orderstatus = 'F'), 0) AS DOUBLE) AS sum_f
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def d11_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long→wide): order counts per priority by status. Uses the
    native pivot with an EXPLICIT value list — without it Spark runs an
    extra distinct job to discover values, a collect-like stall at
    100 TB. Decimal sum keeps the money column bit-stable."""
    o = load(spark, sf_dir, "orders")
    p = (
        o.withColumn("price_dec", F.col("o_totalprice").cast("decimal(12,2)"))
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)).alias("n"), F.sum("price_dec").alias("s"))
    )
    return p.select(
        "o_orderpriority",
        F.col("F_n").alias("n_f"),
        F.col("O_n").alias("n_o"),
        F.col("P_n").alias("n_p"),
        F.coalesce(F.col("F_s"), F.lit(0).cast("decimal(12,2)"))
        .cast("double")
        .alias("sum_f"),
    )


@query(
    "d12_unpivot",
    oracle="""
    SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS val
    FROM part WHERE p_partkey <= 100
    UNION ALL
    SELECT p_partkey, 'p_retailprice' AS metric, p_retailprice AS val
    FROM part WHERE p_partkey <= 100
    """,
)
def d12_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide→long) via the native melt — one Expand node, no
    self-union double scan."""
    p = load(spark, sf_dir, "part").filter(F.col("p_partkey") <= 100)
    return p.select(
        "p_partkey",
        F.col("p_size").cast("double").alias("p_size"),
        F.col("p_retailprice").alias("p_retailprice"),
    ).unpivot("p_partkey", ["p_size", "p_retailprice"], "metric", "val")


@query(
    "h8_fn_bitwise",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_orderkey & 255 AS and_lo,
           l_orderkey | 15 AS or_lo,
           xor(l_orderkey, CAST(l_linenumber AS BIGINT)) AS xor_ln,
           l_orderkey << 2 AS shl2,
           l_orderkey >> 3 AS shr3,
           bit_count(l_orderkey) AS pop
    FROM lineitem
    WHERE l_orderkey < 1000
    """,
)
def h8_fn_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise function bundle (mask/shift/xor/popcount) — the
    primitives behind salting, banding, and bitmap tricks elsewhere in
    the engine."""
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 1000)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_orderkey").bitwiseAND(F.lit(255)).alias("and_lo"),
        F.col("l_orderkey").bitwiseOR(F.lit(15)).alias("or_lo"),
        F.col("l_orderkey").bitwiseXOR(F.col("l_linenumber").cast("bigint")).alias("xor_ln"),
        F.shiftleft(F.col("l_orderkey"), 2).alias("shl2"),
        F.shiftright(F.col("l_orderkey"), 3).alias("shr3"),
        F.bit_count("l_orderkey").alias("pop"),
    )


@query(
    "e7_win_range_frame",
    oracle="""
    SELECT c_custkey, c_nationkey, c_acctbal,
           COUNT(*) OVER (PARTITION BY c_nationkey ORDER BY c_acctbal
                          RANGE BETWEEN 500.0 PRECEDING AND CURRENT ROW) AS n_within_500,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) OVER (
                PARTITION BY c_nationkey ORDER BY c_acctbal
                RANGE BETWEEN 500.0 PRECEDING AND CURRENT ROW) AS DOUBLE) AS bal_within_500
    FROM customer
    """,
)
def e7_win_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE window frame over a numeric ordering (value-based frame,
    distinct from e4's row-count frame): peers within 500.0 of the
    current account balance."""
    from pyspark.sql import Window

    cust = load(spark, sf_dir, "customer")
    w = (
        Window.partitionBy("c_nationkey")
        .orderBy("c_acctbal")
        .rangeBetween(-500, Window.currentRow)
    )
    return cust.select(
        "c_custkey",
        "c_nationkey",
        "c_acctbal",
        F.count(F.lit(1)).over(w).alias("n_within_500"),
        F.sum(F.col("c_acctbal").cast("decimal(12,2)")).over(w).cast("double").alias("bal_within_500"),
    )


@query(
    "d13_mode",
    oracle="""
    SELECT c_mktsegment,
           mode(c_nationkey ORDER BY c_nationkey) AS mode_nation,
           min(c_nationkey) AS min_nation,
           COUNT(*) AS n
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def d13_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact mode per group. Spark's mode() breaks ties
    nondeterministically, so ties are resolved explicitly via a
    count + rank plan (smallest value wins) — matching DuckDB's
    ORDER BY tie-break. The two-level aggregate is the standard
    exact-mode shape: both aggs are hash-partial, shuffle keys stay
    small."""
    from pyspark.sql import Window

    cust = load(spark, sf_dir, "customer")
    counts = cust.groupBy("c_mktsegment", "c_nationkey").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("c_mktsegment").orderBy(F.desc("cnt"), F.asc("c_nationkey"))
    modes = (
        counts.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select("c_mktsegment", F.col("c_nationkey").alias("mode_nation"))
    )
    stats = cust.groupBy("c_mktsegment").agg(
        F.min("c_nationkey").alias("min_nation"), F.count(F.lit(1)).alias("n")
    )
    return modes.join(stats, "c_mktsegment")


@query(
    "b4_subqueries",
    oracle="""
    SELECT p_partkey, p_name, p_retailprice
    FROM part p
    WHERE p_retailprice > (SELECT CAST(SUM(CAST(p_retailprice AS DECIMAL(12,2))) AS DOUBLE)
                                    / COUNT(p_retailprice) FROM part)
      AND p_brand IN (SELECT p_brand FROM part WHERE p_size > 40)
      AND EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey
                  AND l.l_quantity >= 45)
    """,
)
def b4_subqueries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subquery surface through the SQL path: scalar subquery (above
    average price), uncorrelated IN, and correlated EXISTS. Catalyst's
    RewriteCorrelatedScalarSubquery / RewritePredicateSubquery
    decorrelate these into joins (EXISTS → left-semi) — the SQL-path
    twin of c4/c5, exercising the §4 decorrelation rules."""
    load(spark, sf_dir, "part").createOrReplaceTempView("part_v")
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_v")
    return spark.sql(
        """
        SELECT p_partkey, p_name, p_retailprice
        FROM part_v p
        WHERE p_retailprice > (SELECT CAST(SUM(CAST(p_retailprice AS DECIMAL(12,2))) AS DOUBLE)
                                        / COUNT(p_retailprice) FROM part_v)
          AND p_brand IN (SELECT p_brand FROM part_v WHERE p_size > 40)
          AND EXISTS (SELECT 1 FROM lineitem_v l WHERE l.l_partkey = p.p_partkey
                      AND l.l_quantity >= 45)
        """
    )


@query(
    "f5_offset_pagination",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer
    ORDER BY c_acctbal DESC, c_custkey
    LIMIT 20 OFFSET 40
    """,
)
def f5_offset_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pagination page 3 (LIMIT 20 OFFSET 40) over a total order —
    deterministic because the sort is total (tie-break on the key).
    Spark plans offset+limit together (GlobalLimit with skip), not as
    a full sort of everything past the page."""
    cust = load(spark, sf_dir, "customer")
    return (
        cust.orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
        .offset(40)
        .limit(20)
        .select("c_custkey", "c_name", "c_acctbal")
    )


@query(
    "b5_merge_upsert",
    oracle="""
    WITH updates AS (
      SELECT c_custkey, c_acctbal + 100.0 AS new_bal
      FROM customer WHERE c_custkey % 10 = 0
      UNION ALL
      SELECT 900000 + r.r AS c_custkey, 1000.0 * (r.r + 1) AS new_bal
      FROM (SELECT unnest(range(5)) AS r) r
    )
    SELECT COALESCE(c.c_custkey, u.c_custkey) AS c_custkey,
           COALESCE(u.new_bal, c.c_acctbal) AS acctbal,
           CASE WHEN c.c_custkey IS NULL THEN 'inserted'
                WHEN u.c_custkey IS NULL THEN 'kept'
                ELSE 'updated' END AS merge_action
    FROM customer c FULL OUTER JOIN updates u ON c.c_custkey = u.c_custkey
    """,
)
def b5_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE / upsert semantics on plain parquet tables (no lakehouse
    format required): target FULL OUTER JOIN source, coalesce per
    column, action derived from match side — matched rows take source
    values, unmatched-target rows pass through, unmatched-source rows
    insert. The update set is derived deterministically from the
    fixture (every 10th customer + 5 synthetic inserts). At 100 TB
    this is the shuffle-on-key merge a MERGE INTO lowers to anyway;
    partition-overwrite of only the touched partitions is the write
    half (a9 covers the partitioned layout)."""
    cust = load(spark, sf_dir, "customer")
    updates = (
        cust.filter(F.col("c_custkey") % 10 == 0)
        .select("c_custkey", (F.col("c_acctbal") + 100.0).alias("new_bal"))
        .unionByName(
            spark.range(5).select(
                (F.lit(900000) + F.col("id")).alias("c_custkey"),
                (1000.0 * (F.col("id") + 1)).alias("new_bal"),
            )
        )
    )
    merged = cust.select("c_custkey", "c_acctbal").join(
        updates.withColumnRenamed("c_custkey", "u_custkey"),
        F.col("c_custkey") == F.col("u_custkey"),
        "full_outer",
    )
    return merged.select(
        F.coalesce("c_custkey", "u_custkey").alias("c_custkey"),
        F.coalesce("new_bal", "c_acctbal").alias("acctbal"),
        F.when(F.col("c_custkey").isNull(), "inserted")
        .when(F.col("u_custkey").isNull(), "kept")
        .otherwise("updated")
        .alias("merge_action"),
    )


@query(
    "b6_cdc_apply",
    oracle="""
    WITH ops AS (
      SELECT user_id, event_id, ts::TIMESTAMP AS ts, value,
             CASE WHEN event_type = 'signup' THEN 'insert'
                  WHEN event_type = 'error' THEN 'delete'
                  ELSE 'update' END AS op
      FROM events
    ),
    latest AS (
      SELECT user_id, op, value, ts,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn,
             COUNT(*) OVER (PARTITION BY user_id) AS n_changes
      FROM ops
    )
    SELECT user_id, value AS last_value, epoch_us(ts) AS last_ts_us, n_changes
    FROM latest WHERE rn = 1 AND op != 'delete'
    """,
)
def b6_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog → current-state materialization: the events table
    read as a change stream per entity (signup=insert, error=delete,
    rest=update), resolved with last-write-wins (ts, then event_id as
    the deterministic LSN tiebreak); entities whose LAST change is a
    delete disappear. One window over one shuffle on the entity key —
    the standard snapshot-from-changelog shape; at 100 TB the window
    runs per key partition and old generations prune via partition
    predicates."""
    ev = load(spark, sf_dir, "events")
    ops = ev.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.when(F.col("event_type") == "signup", "insert")
        .when(F.col("event_type") == "error", "delete")
        .otherwise("update")
        .alias("op"),
    )
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    wc = Window.partitionBy("user_id")
    latest = ops.withColumn("rn", F.row_number().over(w)).withColumn(
        "n_changes", F.count(F.lit(1)).over(wc)
    )
    return (
        latest.filter((F.col("rn") == 1) & (F.col("op") != "delete"))
        .select(
            "user_id",
            F.col("value").alias("last_value"),
            F.unix_micros("ts").alias("last_ts_us"),
            "n_changes",
        )
    )


@query(
    "b7_pipe_syntax",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    WHERE l_shipdate >= '1995-01-01'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def b7_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4 `|>` operators): the same logical plan
    as the classic GROUP BY — pipe stages are pure sugar over the
    DataFrame algebra, so Catalyst output (pushdown, partial agg) is
    identical; this pins that the modern SQL surface works end-to-end.
    Decimal sum per the exact.py convention."""
    register_views(spark, sf_dir, only=("lineitem",))
    return spark.sql(
        """
        FROM lineitem
        |> WHERE l_shipdate >= '1995-01-01'
        |> AGGREGATE COUNT(*) AS n,
                     CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
           GROUP BY l_returnflag, l_linestatus
        |> SELECT l_returnflag, l_linestatus, n, sum_qty
        |> ORDER BY l_returnflag, l_linestatus
        """
    )


@query(
    "c12_join_lateral",
    oracle="""
    SELECT c.c_custkey, c.c_mktsegment, l.o_orderkey, l.o_totalprice
    FROM customer c, LATERAL (
      SELECT o_orderkey, o_totalprice FROM orders
      WHERE o_custkey = c.c_custkey
      ORDER BY o_totalprice DESC, o_orderkey
      LIMIT 2
    ) l
    WHERE c.c_custkey < 200
    """,
)
def c12_join_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL join with per-row LIMIT — top-2 orders per
    customer expressed as the SQL standard writes it. Catalyst
    decorrelates the lateral subquery into a ranked window join (the
    same physical shape as e6's top-k-per-group), so nothing here is
    row-at-a-time nested-loop at scale."""
    register_views(spark, sf_dir, only=("customer", "orders"))
    return spark.sql(
        """
        SELECT c.c_custkey, c.c_mktsegment, l.o_orderkey, l.o_totalprice
        FROM customer c, LATERAL (
          SELECT o_orderkey, o_totalprice FROM orders
          WHERE o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey
          LIMIT 2
        ) l
        WHERE c.c_custkey < 200
        """
    )


@query(
    "b8_try_cast",
    oracle="""
    SELECT p_brand,
           COUNT(*) AS n_rows,
           COUNT(TRY_CAST(split_part(p_type, ' ', 1) AS INTEGER)) AS n_numeric_type,
           COUNT(TRY_CAST(split_part(p_brand, '#', 2) AS INTEGER)) AS n_numeric_brand,
           CAST(SUM(COALESCE(TRY_CAST(split_part(p_brand, '#', 2) AS INTEGER), 0)) AS BIGINT)
             AS sum_brand_num,
           COUNT(CASE WHEN p_size = 0 THEN NULL ELSE p_retailprice / NULLIF(p_size, 0) END)
             AS n_safe_div
    FROM part
    GROUP BY p_brand
    """,
)
def b8_try_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safe dirty-data ingestion: Spark 4 runs ANSI mode by
    default, so a single malformed value fails the job — the try_*
    family (try_cast / try_divide) is the production answer for feeds
    with embedded garbage: malformed values become NULL and are
    counted instead of killing the pipeline. DuckDB's TRY_CAST shares
    the NULL-on-failure contract, so the per-brand good/bad tallies
    hash-match."""
    p = load(spark, sf_dir, "part")
    type_head = F.split(F.col("p_type"), " ").getItem(0).try_cast("int")
    brand_num = F.element_at(F.split(F.col("p_brand"), "#"), 2).try_cast("int")
    return p.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(type_head).alias("n_numeric_type"),
        F.count(brand_num).alias("n_numeric_brand"),
        F.sum(F.coalesce(brand_num, F.lit(0))).cast("bigint").alias("sum_brand_num"),
        F.count(F.try_divide("p_retailprice", F.nullif(F.col("p_size"), F.lit(0)))).alias(
            "n_safe_div"
        ),
    )


@query(
    "c13_exists_chain",
    oracle="""
    SELECT s.s_nationkey,
           COUNT(*) AS n_flagged
    FROM supplier s
    WHERE EXISTS (
        SELECT 1 FROM lineitem l1 JOIN orders o ON l1.l_orderkey = o.o_orderkey
        WHERE l1.l_suppkey = s.s_suppkey
          AND o.o_orderstatus = 'F'
          AND EXISTS (
            SELECT 1 FROM lineitem l2
            WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey != l1.l_suppkey
          )
      )
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3 JOIN orders o3 ON l3.l_orderkey = o3.o_orderkey
        WHERE l3.l_suppkey = s.s_suppkey
          AND o3.o_orderpriority = '1-URGENT' AND l3.l_quantity > 49.8
      )
    GROUP BY s.s_nationkey
    """,
)
def c13_exists_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-shaped correlated EXISTS / NOT EXISTS chain: suppliers
    who shipped into finished multi-supplier orders but never put a
    high-quantity line into an urgent order. Catalyst decorrelates
    each predicate subquery into semi/anti joins over the shared
    lineitem scan — the hard optimizer shape every BI workload hits;
    nothing executes per-row."""
    register_views(spark, sf_dir, only=("supplier", "lineitem", "orders"))
    return spark.sql(
        """
        SELECT s.s_nationkey,
               COUNT(*) AS n_flagged
        FROM supplier s
        WHERE EXISTS (
            SELECT 1 FROM lineitem l1 JOIN orders o ON l1.l_orderkey = o.o_orderkey
            WHERE l1.l_suppkey = s.s_suppkey
              AND o.o_orderstatus = 'F'
              AND EXISTS (
                SELECT 1 FROM lineitem l2
                WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey != l1.l_suppkey
              )
          )
          AND NOT EXISTS (
            SELECT 1 FROM lineitem l3 JOIN orders o3 ON l3.l_orderkey = o3.o_orderkey
            WHERE l3.l_suppkey = s.s_suppkey
              AND o3.o_orderpriority = '1-URGENT' AND l3.l_quantity > 49.8
          )
        GROUP BY s.s_nationkey
        """
    )


@query(
    "b9_null_semantics",
    oracle="""
    WITH t AS (
      SELECT o_orderkey,
             nullif(o_orderstatus, 'P') AS st,
             CASE WHEN o_totalprice > 150000 THEN o_orderpriority END AS pri
      FROM orders
    )
    SELECT COALESCE(st, '?') AS status,
           COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN st IS NOT DISTINCT FROM pri THEN 1 ELSE 0 END) AS BIGINT)
             AS n_nullsafe_eq,
           CAST(SUM(CASE WHEN st IS DISTINCT FROM pri THEN 1 ELSE 0 END) AS BIGINT)
             AS n_distinct_from,
           COUNT(pri) AS n_pri,
           CAST(SUM(CASE WHEN pri IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_pri_null
    FROM t
    GROUP BY 1
    """,
)
def b9_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-valued-logic bundle: NULLIF / conditional-NULL columns
    compared with null-safe equality (`eqNullSafe`, SQL `<=>` /
    IS NOT DISTINCT FROM) and its negation — the semantics every
    NULL-heavy feed exercises and where engines classically diverge
    (NULL = NULL is NULL, NULL <=> NULL is TRUE). Counting both
    branches per group pins agreement with DuckDB's standard
    IS [NOT] DISTINCT FROM."""
    o = load(spark, sf_dir, "orders")
    t = o.select(
        "o_orderkey",
        F.nullif("o_orderstatus", F.lit("P")).alias("st"),
        F.when(F.col("o_totalprice") > 150000, F.col("o_orderpriority")).alias("pri"),
    )
    eq = F.col("st").eqNullSafe(F.col("pri"))
    return t.groupBy(F.coalesce("st", F.lit("?")).alias("status")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(eq.cast("int")).cast("bigint").alias("n_nullsafe_eq"),
        F.sum((~eq).cast("int")).cast("bigint").alias("n_distinct_from"),
        F.count("pri").alias("n_pri"),
        F.sum(F.col("pri").isNull().cast("int")).cast("bigint").alias("n_pri_null"),
    )


@query(
    "d14_listagg",
    oracle="""
    SELECT n_regionkey,
           string_agg(n_name, '|' ORDER BY n_name) AS nations,
           COUNT(*) AS n
    FROM nation
    GROUP BY n_regionkey
    """,
)
def d14_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-standard LISTAGG ... WITHIN GROUP (ORDER BY ...): ordered
    string aggregation as the standard writes it (Spark 4) — the
    deterministic ORDER BY inside the aggregate is what makes a
    concatenation hash-checkable at all; DuckDB's string_agg ORDER BY
    shares the contract."""
    register_views(spark, sf_dir, only=("nation",))
    return spark.sql(
        """
        SELECT n_regionkey,
               listagg(n_name, '|') WITHIN GROUP (ORDER BY n_name) AS nations,
               COUNT(*) AS n
        FROM nation
        GROUP BY n_regionkey
        """
    )


@query(
    "b10_parameterized_sql",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
    FROM orders
    WHERE o_totalprice > 250000 AND o_orderstatus = 'O'
    GROUP BY o_orderpriority
    """,
)
def b10_parameterized_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named-parameter SQL (spark.sql args binding): values bind as
    typed literals AFTER parsing — no string interpolation, no
    injection surface, and Catalyst constant-folds/pushes the bound
    literal exactly like an inline one. The parameterized plan must
    produce the same result as the inlined oracle."""
    register_views(spark, sf_dir, only=("orders",))
    return spark.sql(
        """
        SELECT o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
        FROM orders
        WHERE o_totalprice > :min_price AND o_orderstatus = :status
        GROUP BY o_orderpriority
        """,
        args={"min_price": 250000, "status": "O"},
    )


@query(
    "c14_null_safe_join",
    oracle="""
    WITH a AS (
      SELECT nullif(c_nationkey % 7, 3) AS k, COUNT(*) AS n_cust
      FROM customer GROUP BY 1
    ),
    b AS (
      SELECT nullif(s_nationkey % 7, 3) AS k, COUNT(*) AS n_supp
      FROM supplier GROUP BY 1
    )
    SELECT a.k AS k, a.n_cust, b.n_supp
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    """,
)
def c14_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-safe equi join (`<=>` / IS NOT DISTINCT FROM as the JOIN
    key): under standard equality the NULL-keyed groups silently drop
    from the join; the null-safe operator makes NULL a joinable key
    value — and Spark still plans a hash join on it (the null-safe
    comparison is a valid equi-key), not a nested loop. Both sides
    pre-aggregate so the join is dim-sized."""
    c = load(spark, sf_dir, "customer")
    s = load(spark, sf_dir, "supplier")
    a = c.groupBy(F.nullif(F.col("c_nationkey") % 7, F.lit(3)).alias("k")).agg(
        F.count(F.lit(1)).alias("n_cust")
    )
    b = s.groupBy(F.nullif(F.col("s_nationkey") % 7, F.lit(3)).alias("kb")).agg(
        F.count(F.lit(1)).alias("n_supp")
    )
    return a.join(b, a.k.eqNullSafe(b.kb)).select("k", "n_cust", "n_supp")


@query(
    "c15_join_bloom_pruned",
    oracle="""
    SELECT o.o_orderpriority,
           COUNT(*) AS n_lines,
           CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS total_qty
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_totalprice > 400000
    GROUP BY o.o_orderpriority
    """,
)
def c15_join_bloom_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime Bloom-filter join pruning (Spark's InjectRuntimeFilter):
    the selective orders side builds a bloom_filter_agg subquery that
    is pushed as a might_contain() pre-filter on the 100 TB fact scan
    — rows that cannot join are dropped BEFORE the shuffle, turning a
    full-fact shuffle into a semi-join-reduced one. The conf overrides
    live on a ``spark.newSession()`` child, never on the caller's
    session, where the -1 broadcast threshold made c11, c13 and c14
    plan sort-merge joins on other threads. The zeroed
    application-side scan threshold exists because local fixtures are
    below the 10 GB default that gates the rule in production; result
    semantics are the plain join, which is what the oracle checks —
    the plan shape is pinned in tests/test_plans_scale.py."""
    child = spark.newSession()
    child.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    child.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
    )
    child.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    li = load(child, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    od = (
        load(child, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 400000)
        .select("o_orderkey", "o_orderpriority")
    )
    return (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(F.col("l_quantity").cast("bigint")).alias("total_qty"),
        )
    )


@query(
    "b11_incremental_view",
    oracle="""
    WITH base_agg AS (
      SELECT o_custkey,
             COUNT(*) AS n_orders,
             SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS spend
      FROM orders WHERE o_orderkey % 10 < 8
      GROUP BY o_custkey
    ),
    delta_agg AS (
      SELECT o_custkey,
             COUNT(*) AS n_orders,
             SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS spend
      FROM orders WHERE o_orderkey % 10 >= 8
      GROUP BY o_custkey
    )
    SELECT COALESCE(b.o_custkey, d.o_custkey) AS o_custkey,
           CAST(COALESCE(b.n_orders, 0) + COALESCE(d.n_orders, 0) AS BIGINT)
             AS n_orders,
           CAST(COALESCE(b.spend, 0) + COALESCE(d.spend, 0) AS DOUBLE) AS spend
    FROM base_agg b FULL OUTER JOIN delta_agg d ON b.o_custkey = d.o_custkey
    """,
)
def b11_incremental_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance: a per-customer (count, spend)
    materialized aggregate is REFRESHED by merging the delta batch's
    partial aggregate into the stored one — full-outer join on the
    group key, counts add, DECIMAL sums add exactly — never rescanning
    the base. This is the batch-MERGE face of the associativity i22's
    rollup cascade exploits: at 100 TB the nightly refresh costs
    O(delta + view), not O(base). The oracle computes the same
    merge; by construction both equal the one-shot aggregate over
    base ∪ delta (the IVM correctness invariant, pinned in tests).
    Decimal stays exact through both partials and the merge; one
    final DOUBLE cast."""
    orders = load(spark, sf_dir, "orders")

    def part_agg(df):
        return df.groupBy("o_custkey").agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(12,2)")).alias("spend"),
        )

    base = part_agg(orders.filter(F.col("o_orderkey") % 10 < 8))
    delta = part_agg(orders.filter(F.col("o_orderkey") % 10 >= 8))
    b = base.select(
        F.col("o_custkey").alias("k_b"),
        F.col("n_orders").alias("n_b"),
        F.col("spend").alias("s_b"),
    )
    d = delta.select(
        F.col("o_custkey").alias("k_d"),
        F.col("n_orders").alias("n_d"),
        F.col("spend").alias("s_d"),
    )
    zero = F.lit(0).cast("decimal(12,2)")
    return (
        b.join(d, b.k_b == d.k_d, "full_outer")
        .select(
            F.coalesce("k_b", "k_d").alias("o_custkey"),
            (F.coalesce("n_b", F.lit(0)) + F.coalesce("n_d", F.lit(0)))
            .cast("bigint")
            .alias("n_orders"),
            (F.coalesce("s_b", zero) + F.coalesce("s_d", zero))
            .cast("double")
            .alias("spend"),
        )
    )


@query(
    "c16_join_dpp",
    oracle="""
    SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
           o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
    FROM orders
    WHERE CAST(EXTRACT(year FROM o_orderdate) AS INT) IN (1995, 1996)
    GROUP BY 1, 2
    """,
)
def c16_join_dpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning as a first-class operator: the fact
    table lands partitioned by year, the (runtime-filtered) year dim
    joins it, and Spark injects a dynamicpruning subquery into the
    fact scan's PartitionFilters — only the two matching year
    directories are read, however many the table has. At 100 TB this
    is THE difference between scanning 7 years and scanning 2; the
    oracle is the equivalent static filter (the join is against a
    distinct year dim, so it changes no multiplicity). The
    partitioned staging write is per-sf-dir and reused across calls
    in a session; plan regression for the pruning subquery is pinned
    in tests/test_plans_scale.py."""
    import os
    import tempfile

    orders = load(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate").cast("int")
    )
    tag = sf_dir.strip("/").replace("/", "_")
    part_dir = os.path.join(tempfile.gettempdir(), f"j2h_dpp_orders_{tag}")
    # freshness marker keyed on the SOURCE file's (mtime, size) — the
    # driver regenerates fixtures between rounds, and a path-only
    # marker would silently serve a stale staged copy (same trap
    # io.py's schema cache guards against)
    src_file = os.path.join(sf_dir, "orders.parquet")
    st = os.stat(src_file)
    stamp = f"{st.st_mtime_ns}:{st.st_size}"
    marker = os.path.join(part_dir, "_J2H_SOURCE_STAMP")
    fresh = False
    try:
        fresh = open(marker).read() == stamp
    except OSError:
        pass
    if not fresh:
        orders.write.partitionBy("o_year").mode("overwrite").parquet(part_dir)
        with open(marker, "w") as f:
            f.write(stamp)
    fact = spark.read.parquet(part_dir)
    years = (
        fact.select(F.col("o_year").alias("d_year"))
        .distinct()
        .filter(F.col("d_year").isin(1995, 1996))
    )
    return (
        fact.join(years, fact.o_year == years.d_year)
        .groupBy("o_year", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(12,2)"))
            .cast("double")
            .alias("revenue"),
        )
    )


@query(
    "d15_argmax",
    oracle="""
    WITH keyed AS (
      SELECT o_custkey, o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) * 10000000000 + o_orderkey
               AS price_key
      FROM orders
    )
    SELECT o_custkey,
           max_by(o_orderkey, price_key) AS best_order,
           min_by(o_orderkey, price_key) AS worst_order,
           COUNT(*) AS n_orders
    FROM keyed GROUP BY o_custkey
    """,
)
def d15_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """argmax/argmin aggregation (max_by / min_by): each customer's
    highest- and lowest-priced order id in ONE hash-agg pass — no
    row_number window, no self-join, map-side combinable, which at
    100 TB is the difference between one shuffle of (key, best-so-far)
    pairs and a full sort per group. Determinism under price ties is
    engineered into the comparison key: price-cents × 10^10 +
    orderkey is a single BIGINT that never ties, so both engines pick
    the same row (max_by/min_by on tied keys is otherwise
    engine-nondeterministic — the trap this operator documents)."""
    orders = load(spark, sf_dir, "orders")
    keyed = orders.select(
        "o_custkey",
        "o_orderkey",
        (
            F.round(F.col("o_totalprice") * 100).cast("bigint") * F.lit(10000000000)
            + F.col("o_orderkey")
        ).alias("price_key"),
    )
    return keyed.groupBy("o_custkey").agg(
        F.max_by("o_orderkey", "price_key").alias("best_order"),
        F.min_by("o_orderkey", "price_key").alias("worst_order"),
        F.count("*").alias("n_orders"),
    )


@query(
    "b12_scd2_build",
    oracle="""
    WITH chg AS (
      SELECT o_custkey AS custkey, o_orderpriority AS priority,
             o_orderdate::TIMESTAMP AS ts, o_orderkey,
             lag(o_orderpriority) OVER (PARTITION BY o_custkey
                                        ORDER BY o_orderdate, o_orderkey)
               AS prev_priority
      FROM orders
    ),
    starts AS (
      SELECT custkey, priority, ts, o_orderkey
      FROM chg
      WHERE prev_priority IS NULL OR priority != prev_priority
    ),
    vers AS (
      SELECT custkey, priority,
             row_number() OVER (PARTITION BY custkey
                                ORDER BY ts, o_orderkey) AS version,
             CAST(CAST(ts AS DATE) AS VARCHAR) AS eff_from,
             CAST(CAST(lead(ts) OVER (PARTITION BY custkey
                                      ORDER BY ts, o_orderkey) AS DATE)
                  AS VARCHAR) AS eff_to
      FROM starts
    )
    SELECT custkey, priority, CAST(version AS BIGINT) AS version,
           eff_from, eff_to,
           (eff_to IS NULL) AS is_current
    FROM vers
    """,
)
def b12_scd2_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 (slowly-changing-dimension type 2) history build from a
    change log: orders read as per-customer attribute updates
    (o_orderpriority is the tracked attribute, o_orderdate the change
    time, o_orderkey the deterministic LSN tiebreak). True SCD2 only
    opens a new version when the value CHANGES, so consecutive
    identical updates collapse first (lag-compare), then each change
    row gets its version number and validity interval
    [eff_from, eff_to) from lead(); the open version has eff_to NULL
    and is_current true. This is the warehouse-dimension complement of
    b6 (which materializes only the latest snapshot).

    Plan: ONE shuffle on custkey serves all three windows (lag,
    row_number, lead share the partition key — Catalyst reuses the
    exchange; the change-collapse filter runs between them, shrinking
    the later windows' input to change rows only). At 100 TB the
    history builds per key partition with no global sort; validity
    bounds surface as date strings (the fixture's change grain),
    keeping the comparison engine-agnostic."""
    orders = load(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderdate").alias("ts"),
        "o_orderkey",
    )
    # rename BEFORE the first window so both window specs share the
    # exact (custkey, ts, o_orderkey) sort order and Catalyst reuses
    # one exchange+sort for all three functions
    w_ord = Window.partitionBy("custkey").orderBy("ts", "o_orderkey")
    chg = orders.withColumn("prev_priority", F.lag("priority").over(w_ord))
    starts = chg.filter(
        F.col("prev_priority").isNull()
        | (F.col("priority") != F.col("prev_priority"))
    )
    w_ver = Window.partitionBy("custkey").orderBy("ts", "o_orderkey")
    vers = starts.select(
        "custkey",
        "priority",
        F.row_number().over(w_ver).cast("bigint").alias("version"),
        F.col("ts").cast("date").cast("string").alias("eff_from"),
        F.lead("ts").over(w_ver).cast("date").cast("string").alias("eff_to"),
    )
    return vers.withColumn("is_current", F.col("eff_to").isNull())


@query(
    "c18_scd2_asof_join",
    oracle="""
    WITH chg AS (
      SELECT o_custkey AS custkey, o_orderpriority AS priority,
             o_orderdate::TIMESTAMP AS ts, o_orderkey,
             lag(o_orderpriority) OVER (PARTITION BY o_custkey
                                        ORDER BY o_orderdate, o_orderkey)
               AS prev_priority
      FROM orders
    ),
    vers AS (
      SELECT custkey, priority,
             CAST(CAST(ts AS DATE) AS VARCHAR) AS eff_from,
             CAST(CAST(lead(ts) OVER (PARTITION BY custkey
                                      ORDER BY ts, o_orderkey) AS DATE)
                  AS VARCHAR) AS eff_to
      FROM chg
      WHERE prev_priority IS NULL OR priority != prev_priority
    ),
    facts AS (
      SELECT o_orderkey, o_custkey AS custkey, o_orderpriority,
             CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS odate,
             CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year
      FROM orders
    ),
    joined AS (
      SELECT f.o_orderkey, f.o_year, f.o_orderpriority, v.priority AS asof_priority
      FROM facts f
      JOIN vers v
        ON v.custkey = f.custkey
       AND v.eff_from <= f.odate
       AND (v.eff_to IS NULL OR f.odate < v.eff_to)
    )
    SELECT o_year,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN o_orderpriority = asof_priority
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
           round(1.0 - CAST(SUM(CASE WHEN o_orderpriority = asof_priority
                                     THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 4) AS mismatch_frac
    FROM joined GROUP BY o_year
    """,
)
def c18_scd2_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal (as-of) join of facts to an SCD2 dimension — the
    warehouse query b12's history exists FOR: each order looks up its
    customer's priority version valid AT the order date
    (eff_from ≤ date < eff_to, open version = NULL eff_to). Exactly
    one version matches per fact by construction (the intervals
    partition the timeline), proven by n_orders matching the fact
    count. The per-year mismatch fraction (order's own priority vs
    the as-of version) surfaces same-day flip-flops — the data-quality
    signal SCD2 consumers monitor. Distinct from c7 (time-series
    as-of on event streams): this is interval-validity lookup against
    a versioned dimension.

    Plan: equi join on custkey with the interval predicate as a
    post-join filter — a sort-merge join on the key, both sides
    derived from the fact table (big-big SMJ, justified: the dim is
    corpus-derived here; a real warehouse dim is small → broadcast).
    The versions side is ~|changes| rows, far smaller than facts
    after the change-collapse; ISO date STRINGS compare correctly
    lexicographically, keeping the range predicate engine-agnostic.
    At 100 TB: partition both sides by key (bucketing co-locates, the
    c11 range-bucket trick bounds the per-key interval scan)."""
    vers = b12_scd2_build(spark, sf_dir).select(
        "custkey", F.col("priority").alias("asof_priority"), "eff_from", "eff_to"
    )
    orders = load(spark, sf_dir, "orders")
    facts = orders.select(
        "o_orderkey",
        F.col("o_custkey").alias("custkey"),
        "o_orderpriority",
        F.col("o_orderdate").cast("date").cast("string").alias("odate"),
        F.year("o_orderdate").cast("int").alias("o_year"),
    )
    joined = facts.join(
        vers,
        (facts["custkey"] == vers["custkey"])
        & (vers["eff_from"] <= facts["odate"])
        & (vers["eff_to"].isNull() | (facts["odate"] < vers["eff_to"])),
    )
    match = F.when(F.col("o_orderpriority") == F.col("asof_priority"), 1).otherwise(0)
    return joined.groupBy("o_year").agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.sum(match).cast("bigint").alias("n_match"),
        F.round(1.0 - F.sum(match).cast("double") / F.count("*"), 4).alias(
            "mismatch_frac"
        ),
    )
