"""TPC-H Q3/Q4/Q6/Q7/Q9/Q12/Q13/Q14/Q15/Q16/Q17/Q18/Q19/Q22 over the
driver's synthetic star schema.

Together with Q1 (q_agg_groupby), Q5/Q8/Q10 (tpch.py) this gives the
engine 18 of the 22 TPC-H shapes. The synthetic schema omits partsupp
and the lineitem commit/receipt/shipmode/container columns, so queries
that need them are *adapted*, keeping the plan shape that makes each
query interesting while substituting available columns (noted per
query). Q2/Q11/Q20/Q21 are partsupp-critical end to end; they live in
tpch_partsupp.py, which derives a deterministic partsupp relation
(md5-hash expressions, identical in both engines) and runs all four
with exact oracles — see that module's docstring for the derivation.

The reference gateway cannot express any of these (single-template
routes, no aggregation — SURVEY.md §2.4); they are carried as named
catalog queries the way the reference carries its config.json
templates (`/root/reference/config.json:19-24`), but executed natively
by Spark rather than delegated to a backing RDBMS
(`/root/reference/index.js:230-252`).

Exact-oracle arithmetic follows the repo parity rules: money sums go
through DECIMAL(22,6) (order-independent, bit-equal across engines),
ratios divide identical doubles, year()/count() results are cast to
the same width on both sides.

Scale notes: every query here is at most ONE fact-fact shuffle
(lineitem⋈orders on orderkey); all dimension joins broadcast. The
correlated shapes (Q4 EXISTS, Q17 per-part avg, Q18 HAVING-IN,
Q22 NOT EXISTS) decorrelate to semi/anti hash joins or aggregate+join
— no per-row subquery execution at any scale. Q13's left join keeps
customer as the build side only at small SF; at 100 TB both sides
shuffle on custkey and AQE handles the skew of high-order-count
customers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from data_wrangler_spark.catalog import load_table
from data_wrangler_spark.operators.dedup import _sql_md5_long
from data_wrangler_spark.registry import register

_REV_DEC = "CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,6))"
_ZERO_DEC = "CAST(0 AS DECIMAL(22,6))"


def _rev() -> F.Column:
    return (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(22,6)")


def _ts(lit: str) -> F.Column:
    return F.lit(lit).cast("timestamp_ntz")


@register(
    "q_tpch_q3",
    oracle=f"""
    WITH agg AS (
      SELECT l.l_orderkey,
             CAST(SUM({_REV_DEC}) AS DOUBLE) AS revenue,
             o.o_orderdate, o.o_orderpriority
      FROM customer c
      JOIN orders o   ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      WHERE c.c_mktsegment = 'BUILDING'
        AND o.o_orderdate < TIMESTAMP '1997-06-01'
        AND l.l_shipdate  > TIMESTAMP '1997-06-01'
      GROUP BY 1, 3, 4),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY revenue DESC, l_orderkey) AS rk
      FROM agg)
    SELECT l_orderkey, revenue, o_orderdate, o_orderpriority
    FROM ranked WHERE rk <= 10
    """,
    tags=("ext", "tpch", "join", "agg", "topk"),
)
def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping priority): top-10 unshipped orders by value
    for one market segment. Both date filters push to the parquet
    scans, the segment filter makes customer small enough that AQE
    converts its join to broadcast, and the final top-10 plans as
    TakeOrderedAndProject (per-task heaps + a driver merge of 10
    rows), not a global single-partition sort; the full (revenue,
    orderkey) tiebreak keeps it equal to the oracle's row_number."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < _ts("1997-06-01"))
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > _ts("1997-06-01"))
    agg = (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(l, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(_rev()).cast("double").alias("revenue"))
    )
    return (
        agg.orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


@register(
    "q_tpch_q4",
    oracle="""
    SELECT o.o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-07-01'
      AND o.o_orderdate <  TIMESTAMP '1996-10-01'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY o.o_orderpriority
    """,
    tags=("ext", "tpch", "subquery", "agg"),
)
def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 (order priority checking), adapted: the synthetic
    lineitem has no commit/receipt dates, so "late" is a line shipped
    more than 60 days after the order date. The correlated EXISTS is a
    left-semi hash join on orderkey with the lateness predicate as a
    join residual — one shuffle, no per-row subquery."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1996-07-01"))
        & (F.col("o_orderdate") < _ts("1996-10-01"))
    )
    l = load_table(spark, sf_dir, "lineitem")
    late = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    return (
        o.join(l, late, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@register(
    "q_tpch_q6",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(22,6)))
                AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount >= 0.05 AND l_discount <= 0.07
      AND l_quantity < 24.0
    """,
    tags=("ext", "tpch", "agg"),
)
def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change): pure scan-filter-sum,
    zero joins, zero shuffles beyond the final single-row reduce. The
    whole query is one WholeStageCodegen span over the parquet scan
    with all three predicates pushed down; at 100 TB this is the
    I/O-bound query whose cost is min/max-pruned row groups."""
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= _ts("1996-01-01"))
            & (F.col("l_shipdate") < _ts("1997-01-01"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24.0)
        )
        .agg(
            F.sum((F.col("l_extendedprice") * F.col("l_discount")).cast("decimal(22,6)"))
            .cast("double")
            .alias("revenue")
        )
    )


@register(
    "q_tpch_q7",
    oracle=f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS INT) AS l_year,
           CAST(SUM({_REV_DEC}) AS DOUBLE) AS revenue
    FROM supplier s
    JOIN lineitem l ON s.s_suppkey = l.l_suppkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
    JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY 1, 2, 3
    """,
    tags=("ext", "tpch", "join", "agg"),
)
def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (volume shipping): trade volume between two nations in
    both directions, per year. The nation dimension joins twice under
    different roles with a disjunctive cross-filter; pushing the
    two-nation restriction into each broadcast-joined nation scan
    keeps the fact rows that survive to the shuffle minimal."""
    two = ["NATION_1", "NATION_2"]
    s = load_table(spark, sf_dir, "supplier")
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01"))
        & (F.col("l_shipdate") < _ts("1998-01-01"))
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n1 = (
        load_table(spark, sf_dir, "nation")
        .filter(F.col("n_name").isin(two))
        .select(F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation"))
    )
    n2 = (
        load_table(spark, sf_dir, "nation")
        .filter(F.col("n_name").isin(two))
        .select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation"))
    )
    return (
        s.join(l, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(F.sum(_rev()).cast("double").alias("revenue"))
    )


@register(
    "q_tpch_q9",
    oracle=f"""
    SELECT n.n_name AS nation,
           CAST(year(o.o_orderdate) AS INT) AS o_year,
           CAST(SUM({_REV_DEC}
                    - CAST(0.5 * p.p_retailprice * l.l_quantity
                           AS DECIMAL(22,6))) AS DOUBLE) AS sum_profit
    FROM part p
    JOIN lineitem l ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    WHERE p.p_name LIKE '%red%'
    GROUP BY 1, 2
    """,
    tags=("ext", "tpch", "join", "agg"),
)
def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (product type profit), adapted: no partsupp table, so
    supply cost is modeled as 0.5 × p_retailprice per unit (the plan —
    LIKE-filtered part broadcast into the fact, profit arithmetic,
    nation-year rollup — is unchanged; only the cost operand differs).
    Profit is a difference of two exact decimals summed exactly."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    cost = (0.5 * F.col("p_retailprice") * F.col("l_quantity")).cast("decimal(22,6)")
    return (
        l.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(F.sum(_rev() - cost).cast("double").alias("sum_profit"))
    )


@register(
    "q_tpch_q12",
    oracle="""
    SELECT l.l_linestatus,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM orders o
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
      AND l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate <  TIMESTAMP '1997-01-01'
    GROUP BY l.l_linestatus
    """,
    tags=("ext", "tpch", "join", "agg"),
)
def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 (shipping modes / order priority), adapted: no
    l_shipmode column, so lines group by l_linestatus, and "late" is
    shipped >30 days after order date (no commit/receipt dates). The
    conditional counts are map-side partial aggregates; the only
    shuffle is lineitem⋈orders on orderkey."""
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01"))
        & (F.col("l_shipdate") < _ts("1997-01-01"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(l, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


@register(
    "q_tpch_q13",
    oracle="""
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                        AND o.o_orderpriority <> '5-LOW'
      GROUP BY c.c_custkey) t
    GROUP BY c_count
    """,
    tags=("ext", "tpch", "join", "agg"),
)
def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (customer distribution): histogram of customers by
    order count, keeping zero-order customers via the outer join with
    the filter INSIDE the join condition (the original's NOT LIKE
    comment filter, adapted to o_orderpriority — pulling it into WHERE
    would silently drop the zero bucket). Two aggregations: the first
    shuffles on custkey, the second on the (tiny) count domain."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    on = (F.col("c_custkey") == F.col("o_custkey")) & (
        F.col("o_orderpriority") != "5-LOW"
    )
    return (
        c.join(o, on, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
    )


@register(
    "q_tpch_q14",
    oracle=f"""
    SELECT 100.0 * CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                                 THEN {_REV_DEC} ELSE {_ZERO_DEC} END)
                        AS DOUBLE)
                 / CAST(SUM({_REV_DEC}) AS DOUBLE) AS promo_revenue
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-03-01'
      AND l.l_shipdate <  TIMESTAMP '1996-04-01'
    """,
    tags=("ext", "tpch", "join", "agg"),
)
def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion effect): promo share of one month's
    revenue. Part broadcasts; the month filter prunes the lineitem
    scan; the ratio divides two doubles derived from exact decimal
    sums, so both engines compute the identical IEEE quotient."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-03-01"))
        & (F.col("l_shipdate") < _ts("1996-04-01"))
    )
    p = load_table(spark, sf_dir, "part")
    promo = F.when(F.col("p_type") == "PROMO", _rev()).otherwise(
        F.lit(0).cast("decimal(22,6)")
    )
    return l.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey")).agg(
        (100.0 * F.sum(promo).cast("double") / F.sum(_rev()).cast("double")).alias(
            "promo_revenue"
        )
    )


@register(
    "q_tpch_q15",
    oracle=f"""
    WITH revenue0 AS (
      SELECT l_suppkey AS supplier_no,
             CAST(SUM({_REV_DEC}) AS DOUBLE) AS total_revenue
      FROM lineitem l
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey)
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s
    JOIN revenue0 r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue0)
    """,
    tags=("ext", "tpch", "subquery", "agg"),
)
def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier): supplier(s) whose quarterly revenue
    equals the maximum. The view-and-scalar-subquery formulation
    becomes aggregate → broadcast the 1-row max → equality filter:
    revenue0 is computed once and reused for both sides (Spark reuses
    the exchange), and the double equality is safe because both sides
    are the same exact-decimal-derived values."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01"))
        & (F.col("l_shipdate") < _ts("1996-04-01"))
    )
    revenue0 = l.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(_rev()).cast("double").alias("total_revenue")
    )
    mx = revenue0.agg(F.max("total_revenue").alias("mx"))
    s = load_table(spark, sf_dir, "supplier")
    return (
        s.join(revenue0, F.col("s_suppkey") == F.col("supplier_no"))
        .join(F.broadcast(mx), F.col("total_revenue") == F.col("mx"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "q_tpch_q16",
    oracle="""
    SELECT p.p_brand, p.p_type, p.p_size,
           CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM part p
    JOIN lineitem l ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#1'
      AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
      AND l.l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
    GROUP BY 1, 2, 3
    """,
    tags=("ext", "tpch", "subquery", "agg"),
)
def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 (parts/supplier relationship), adapted: no partsupp,
    so the part↔supplier association comes from lineitem, and the
    "customer complaints" supplier exclusion becomes negative-balance
    suppliers. NOT IN over a non-null key column is a broadcast
    left-anti join; COUNT(DISTINCT) shuffles on the group keys with
    a partial distinct per mapper."""
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & (F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35))
    )
    l = load_table(spark, sf_dir, "lineitem")
    bad = load_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0.0).select(
        "s_suppkey"
    )
    return (
        l.join(F.broadcast(bad), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "q_tpch_q17",
    oracle="""
    SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(22,6))) AS DOUBLE)
           / 7.0 AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#3'
      AND l.l_quantity < (
        SELECT 0.2 * (CAST(SUM(CAST(l2.l_quantity AS DECIMAL(22,6)))
                           AS DOUBLE) / COUNT(*))
        FROM lineitem l2
        WHERE l2.l_partkey = l.l_partkey)
    """,
    tags=("ext", "tpch", "subquery", "agg"),
)
def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (small-quantity-order revenue), adapted: brand filter
    only (no p_container). The correlated per-part average decorrelates
    to a grouped aggregate over lineitem joined back to the brand-
    filtered lines — computed on ALL lines of each part (matching the
    subquery's scope), not just the brand's. Averages use the exact
    decimal-sum/count rule so the 0.2× threshold is bit-identical."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3")
    per_part = l.groupBy(F.col("l_partkey").alias("pk")).agg(
        (
            0.2
            * (
                F.sum(F.col("l_quantity").cast("decimal(22,6)")).cast("double")
                / F.count("*")
            )
        ).alias("qty_thresh")
    )
    return (
        l.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(per_part, F.col("pk") == F.col("l_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_thresh"))
        .agg(
            (
                F.sum(F.col("l_extendedprice").cast("decimal(22,6)")).cast("double")
                / 7.0
            ).alias("avg_yearly")
        )
    )


@register(
    "q_tpch_q18",
    oracle="""
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(22,6))) AS DOUBLE) AS sum_qty
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(22,6))) > 250.0)
    GROUP BY 1, 2, 3, 4, 5
    """,
    tags=("ext", "tpch", "subquery", "agg"),
)
def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large volume customers): orders whose total quantity
    exceeds 250 (threshold scaled to the synthetic data's p99). The
    HAVING-IN subquery is an aggregate → semi join on orderkey; both
    that aggregate and the final one shuffle on the same key, so Spark
    reuses the partitioning instead of re-shuffling."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(22,6)")).alias("q"))
        .filter(F.col("q") > 250.0)
        .select(F.col("l_orderkey").alias("big_okey"))
    )
    return (
        o.join(big, F.col("o_orderkey") == F.col("big_okey"), "left_semi")
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(l, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum(F.col("l_quantity").cast("decimal(22,6)")).cast("double").alias("sum_qty"))
    )


@register(
    "q_tpch_q19",
    oracle=f"""
    SELECT CAST(SUM({_REV_DEC}) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size >= 1  AND p.p_size <= 15
           AND l.l_quantity >= 1.0  AND l.l_quantity <= 20.0)
       OR (p.p_brand = 'Brand#2' AND p.p_size >= 10 AND p.p_size <= 30
           AND l.l_quantity >= 10.0 AND l.l_quantity <= 30.0)
       OR (p.p_brand = 'Brand#3' AND p.p_size >= 20 AND p.p_size <= 50
           AND l.l_quantity >= 20.0 AND l.l_quantity <= 40.0)
    """,
    tags=("ext", "tpch", "join", "agg"),
)
def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (discounted revenue), adapted: brand/size/quantity
    disjunction (no p_container or l_shipmode). The interesting bit is
    predicate placement: the OR spans both tables, so it can only be a
    join residual — but Catalyst derives the implied single-table
    prefilters (brand ∈ {...}, size ∈ [1,50], quantity ∈ [1,40]) and
    pushes those to the scans, shrinking the join input."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    q, b, sz = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
    cond = (
        ((b == "Brand#1") & sz.between(1, 15) & q.between(1.0, 20.0))
        | ((b == "Brand#2") & sz.between(10, 30) & q.between(10.0, 30.0))
        | ((b == "Brand#3") & sz.between(20, 50) & q.between(20.0, 40.0))
    )
    return (
        l.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .filter(cond)
        .agg(F.sum(_rev()).cast("double").alias("revenue"))
    )


@register(
    "q_tpch_q22",
    oracle="""
    SELECT SUBSTRING(c.c_name, 17, 2) AS cntrycode,
           CAST(COUNT(*) AS BIGINT) AS numcust,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(22,6))) AS DOUBLE) AS totacctbal
    FROM customer c
    WHERE c.c_acctbal > (
        SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(22,6))) AS DOUBLE)
               / COUNT(*)
        FROM customer c2 WHERE c2.c_acctbal > 0.0)
      AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderdate >= TIMESTAMP '1999-01-01')
    GROUP BY 1
    """,
    tags=("ext", "tpch", "subquery", "agg"),
)
def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 (global sales opportunity), adapted: every synthetic
    customer has orders, so "no orders" becomes "no orders since
    1999"; the country code is the last two digits of c_name (no c_phone;
    the leading digits are constant zero-padding).
    Three plan pieces: an uncorrelated scalar avg (broadcast 1-row
    cross join), a date-filtered anti join on custkey, and the final
    rollup. The avg uses the exact decimal-sum/count rule."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") >= _ts("1999-01-01"))
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(22,6)")).cast("double")
            / F.count("*")
        ).alias("avg_bal")
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy(F.substring("c_name", 17, 2).alias("cntrycode"))
        .agg(
            F.count("*").alias("numcust"),
            F.sum(F.col("c_acctbal").cast("decimal(22,6)")).cast("double").alias("totacctbal"),
        )
    )


# Derived line-logistics columns (the partsupp technique, extended):
# the fixture lineitem has no shipmode/commitdate/receiptdate, so Q12's
# TRUE predicate structure derives them from the cross-engine line hash
# — identical expressions both engines, so the query is exactly checked.
_Q12_MODES = ("REG AIR", "AIR", "RAIL", "SHIP", "TRUCK", "MAIL", "FOB")


def _q12_sql_hash() -> str:
    return _sql_md5_long(
        "(CAST(l_orderkey AS VARCHAR) || '#' || CAST(l_linenumber AS VARCHAR))"
    )


@register(
    "q_tpch_q12_shipmode",
    oracle=f"""
    WITH lx AS (
      SELECT l_orderkey, l_shipdate, {_q12_sql_hash()} AS h
      FROM lineitem),
    ld AS (
      SELECT l_orderkey,
             (['{"','".join(_Q12_MODES)}'])[(h % 7) + 1] AS l_shipmode,
             l_shipdate + to_days(CAST((h // 7) % 60 - 30 AS INTEGER))
               AS l_commitdate,
             l_shipdate + to_days(CAST((h // 420) % 30 + 1 AS INTEGER))
               AS l_receiptdate,
             l_shipdate
      FROM lx)
    SELECT ld.l_shipmode,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM orders o
    JOIN ld ON o.o_orderkey = ld.l_orderkey
    WHERE ld.l_shipmode IN ('MAIL', 'SHIP')
      AND ld.l_commitdate < ld.l_receiptdate
      AND ld.l_shipdate < ld.l_commitdate
      AND ld.l_receiptdate >= TIMESTAMP '1996-01-01'
      AND ld.l_receiptdate <  TIMESTAMP '1997-01-01'
    GROUP BY ld.l_shipmode
    """,
    tags=("ext", "tpch", "join", "agg"),
)
def q_tpch_q12_shipmode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12, TRUE shape — the full original predicate structure
    (shipmode IN list, commitdate < receiptdate "late delivery",
    shipdate < commitdate "committed late", receipt-year window) over
    DERIVED logistics columns, extending the partsupp technique
    (tpch_partsupp.py): shipmode = the line hash mod 7 into the seven
    TPC-H modes, commitdate = shipdate ± 30 days, receiptdate =
    shipdate + 1..30 days — all from one cross-engine md5 of
    (orderkey, linenumber), so every branch of the original WHERE is
    genuinely exercised AND exactly checked (the adapted q_tpch_q12
    keeps its simpler linestatus form alongside). Plan shape is the
    original's: derived columns are scan-side expressions, all four
    predicates filter BEFORE the single orderkey join, conditional
    counts partial-aggregate map-side."""
    from data_wrangler_spark.operators.dedup import _md5_long

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    # the line hash is computed ONCE as a named column; shipmode and
    # both derived dates read it — one md5 per row and one definition
    # (dedup._md5_long) to stay in lockstep with the oracle's
    lh = li.withColumn(
        "h",
        _md5_long(
            F.concat(
                F.col("l_orderkey").cast("string"),
                F.lit("#"),
                F.col("l_linenumber").cast("string"),
            )
        ),
    )
    ld = lh.select(
        "l_orderkey",
        "l_shipdate",
        F.element_at(
            F.array(*[F.lit(m) for m in _Q12_MODES]),
            (F.col("h") % 7 + 1).cast("int"),
        ).alias("l_shipmode"),
        F.expr(
            "l_shipdate + make_interval(0, 0, 0, CAST(div(h, 7) % 60 - 30 AS INT))"
        ).alias("l_commitdate"),
        F.expr(
            "l_shipdate + make_interval(0, 0, 0, CAST(div(h, 420) % 30 + 1 AS INT))"
        ).alias("l_receiptdate"),
    )
    filtered = ld.filter(
        F.col("l_shipmode").isin("MAIL", "SHIP")
        & (F.col("l_commitdate") < F.col("l_receiptdate"))
        & (F.col("l_shipdate") < F.col("l_commitdate"))
        & (F.col("l_receiptdate") >= _ts("1996-01-01"))
        & (F.col("l_receiptdate") < _ts("1997-01-01"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(filtered, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_shipmode")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )



# Derived packaging/logistics attributes for the TRUE Q19 shape,
# same technique as q_tpch_q12_shipmode: container from the part
# hash, shipmode/shipinstruct from the line hash.
_Q19_CONTAINERS = (
    "SM CASE", "SM BOX", "SM PACK", "SM PKG",
    "MED BAG", "MED BOX", "MED PKG", "MED PACK",
    "LG CASE", "LG BOX", "LG PACK", "LG PKG",
)
_Q19_INSTRUCT = ("DELIVER IN PERSON", "COLLECT COD", "NONE", "TAKE BACK RETURN")


@register(
    "q_tpch_q19_true",
    oracle=f"""
    WITH pd AS (
      SELECT p_partkey, p_brand,
             (['{"','".join(_Q19_CONTAINERS)}'])
               [({_sql_md5_long("CAST(p_partkey AS VARCHAR)", 19)} % 12) + 1]
               AS p_container
      FROM part),
    ld AS (
      SELECT l_partkey, l_quantity, l_extendedprice, l_discount,
             (['REG AIR','AIR','RAIL','SHIP','TRUCK','MAIL','FOB'])
               [(h % 7) + 1] AS l_shipmode,
             (['{"','".join(_Q19_INSTRUCT)}'])[((h // 7) % 4) + 1]
               AS l_shipinstruct
      FROM (SELECT l.*, {_q12_sql_hash()} AS h FROM lineitem l))
    SELECT CAST(SUM({_REV_DEC}) AS DOUBLE) AS revenue
    FROM ld l
    JOIN pd p ON p.p_partkey = l.l_partkey
    WHERE l.l_shipmode IN ('AIR', 'REG AIR')
      AND l.l_shipinstruct = 'DELIVER IN PERSON'
      AND (
        (p.p_brand = 'Brand#1'
         AND p.p_container IN ('SM CASE','SM BOX','SM PACK','SM PKG')
         AND l.l_quantity >= 1.0 AND l.l_quantity <= 11.0)
     OR (p.p_brand = 'Brand#2'
         AND p.p_container IN ('MED BAG','MED BOX','MED PKG','MED PACK')
         AND l.l_quantity >= 10.0 AND l.l_quantity <= 20.0)
     OR (p.p_brand = 'Brand#3'
         AND p.p_container IN ('LG CASE','LG BOX','LG PACK','LG PKG')
         AND l.l_quantity >= 20.0 AND l.l_quantity <= 30.0))
    """,
    tags=("ext", "tpch", "join", "agg"),
)
def q_tpch_q19_true(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19, TRUE shape — the original's full three-branch
    disjunction including the container lists, the shipmode IN
    filter, and the shipinstruct equality the adapted q_tpch_q19
    lacks, over DERIVED attributes (p_container from the seeded part
    hash, shipmode/shipinstruct from the q12 line hash — one md5
    each, identical expressions in the oracle). The plan lesson is
    the original's, now complete: the cross-table OR can only be a
    join residual, but the single-table conjuncts (shipmode,
    shipinstruct, the implied brand/container/quantity unions) push
    to the scans — asserted by the same derived-prefilter machinery
    q_tpch_q19's docstring describes."""
    from data_wrangler_spark.operators.dedup import _md5_long

    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")

    pd_ = p.select(
        "p_partkey",
        "p_brand",
        F.element_at(
            F.array(*[F.lit(c) for c in _Q19_CONTAINERS]),
            (_md5_long(F.col("p_partkey").cast("string"), 19) % 12 + 1).cast("int"),
        ).alias("p_container"),
    )
    lh = li.withColumn(
        "h",
        _md5_long(
            F.concat(
                F.col("l_orderkey").cast("string"),
                F.lit("#"),
                F.col("l_linenumber").cast("string"),
            )
        ),
    )
    ld = lh.select(
        "l_partkey",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        F.element_at(
            F.array(*[F.lit(m) for m in _Q12_MODES]),
            (F.col("h") % 7 + 1).cast("int"),
        ).alias("l_shipmode"),
        F.element_at(
            F.array(*[F.lit(i) for i in _Q19_INSTRUCT]),
            (F.expr("div(h, 7)") % 4 + 1).cast("int"),
        ).alias("l_shipinstruct"),
    )
    q, b, ct = F.col("l_quantity"), F.col("p_brand"), F.col("p_container")
    cond = (
        ((b == "Brand#1") & ct.isin(*_Q19_CONTAINERS[0:4]) & q.between(1.0, 11.0))
        | ((b == "Brand#2") & ct.isin(*_Q19_CONTAINERS[4:8]) & q.between(10.0, 20.0))
        | ((b == "Brand#3") & ct.isin(*_Q19_CONTAINERS[8:12]) & q.between(20.0, 30.0))
    )
    return (
        ld.filter(
            F.col("l_shipmode").isin("AIR", "REG AIR")
            & (F.col("l_shipinstruct") == "DELIVER IN PERSON")
        )
        .join(F.broadcast(pd_), F.col("p_partkey") == F.col("l_partkey"))
        .filter(cond)
        .agg(F.sum(_rev()).cast("double").alias("revenue"))
    )
