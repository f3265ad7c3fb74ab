"""Classic TPC-H analytic shapes (Q5 / Q8 / Q10), adapted to the
driver's synthetic star schema.

The reference gateway cannot express ANY of these (no joins beyond
one template, no aggregation — SURVEY.md §2.4); they are the
canonical multi-join/agg benchmarks every warehouse engine is judged
on, so the engine carries them as named queries with exact oracles.
Q5 adds the local-supplier co-nationality twist over q_join_multi's
plain star; Q8 is two-level conditional-share arithmetic; Q10 is a
rank-limited top-k over a 4-table join.

Scale notes: all three are one fact-fact shuffle (lineitem⋈orders on
orderkey) plus broadcast dimension chains — the plan shape AQE picks
here is the same one a 1000-executor cluster wants: dims under the
broadcast threshold never shuffle, and the grouped aggregates are
partial-aggregated map-side. Q10's top-20 plans as
TakeOrderedAndProject (per-task heaps + driver merge), not a global
single-partition sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from data_wrangler_spark.catalog import load_table
from data_wrangler_spark.registry import register

_REV_DEC = "CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,6))"


def _rev() -> F.Column:
    return (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(22,6)")


@register(
    "q_tpch_q5",
    oracle=f"""
    SELECT n.n_name,
           CAST(SUM({_REV_DEC}) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1995-01-01'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n.n_name
    """,
    tags=("ext", "tpch", "join", "agg"),
)
def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local supplier volume): revenue by nation where the
    ordering customer and the line's supplier share a nation inside
    one region. The co-nationality predicate is the interesting bit —
    it correlates two dimension paths, so the optimizer must join
    supplier BEFORE it can apply the customer-nation equality. Dims
    broadcast; only lineitem⋈orders shuffles; the date filter prunes
    the orders scan (pushed to parquet)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(s),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(F.sum(_rev()).cast("double").alias("revenue"))
    )


@register(
    "q_tpch_q8",
    oracle=f"""
    WITH all_nations AS (
      SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
             {_REV_DEC} AS volume,
             n2.n_name AS supp_nation
      FROM part p
      JOIN lineitem l ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o   ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n1  ON c.c_nationkey = n1.n_nationkey
      JOIN region r   ON n1.n_regionkey = r.r_regionkey
      JOIN nation n2  ON s.s_nationkey = n2.n_nationkey
      WHERE r.r_name = 'AMERICA' AND p.p_type = 'ECONOMY')
    SELECT o_year,
           CAST(SUM(CASE WHEN supp_nation = 'NATION_7' THEN volume
                         ELSE CAST(0 AS DECIMAL(22,6)) END) AS DOUBLE)
             / CAST(SUM(volume) AS DOUBLE) AS mkt_share
    FROM all_nations
    GROUP BY o_year
    """,
    tags=("ext", "tpch", "join", "agg"),
)
def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share): one nation's share of
    regional volume in a part segment, per year. Double-role nation
    dimension (customer-side region filter, supplier-side share
    attribution) — the same dim table joins twice under different
    keys, which Catalyst handles as two independent broadcasts. The
    share is a ratio of two exact decimal sums, divided in double on
    identical operands — engine-identical to the last bit."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n1 = load_table(spark, sf_dir, "nation")
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_nationkey"), F.col("n_name").alias("supp_nation")
    )
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    vol = _rev()
    base = (
        l.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_nationkey"))
        .select(
            F.year("o_orderdate").cast("int").alias("o_year"),
            vol.alias("volume"),
            "supp_nation",
        )
    )
    nat_vol = F.when(
        F.col("supp_nation") == "NATION_7", F.col("volume")
    ).otherwise(F.lit(0).cast("decimal(22,6)"))
    return base.groupBy("o_year").agg(
        (F.sum(nat_vol).cast("double") / F.sum("volume").cast("double")).alias(
            "mkt_share"
        )
    )


@register(
    "q_tpch_q10",
    oracle=f"""
    WITH agg AS (
      SELECT c.c_custkey, c.c_name, n.n_name, c.c_acctbal,
             CAST(SUM({_REV_DEC}) AS DOUBLE) AS revenue
      FROM customer c
      JOIN orders o   ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN nation n   ON c.c_nationkey = n.n_nationkey
      WHERE l.l_returnflag = 'R'
        AND o.o_orderdate >= TIMESTAMP '1996-01-01'
        AND o.o_orderdate <  TIMESTAMP '1997-01-01'
      GROUP BY 1, 2, 3, 4),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY revenue DESC, c_custkey) AS rk
      FROM agg)
    SELECT c_custkey, c_name, n_name, c_acctbal, revenue
    FROM ranked WHERE rk <= 20
    """,
    tags=("ext", "tpch", "join", "agg", "topk"),
)
def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (returned-item reporting): top 20 customers by
    revenue lost to returns in a quarter-year window. Filter →
    4-table join → grouped aggregate → deterministic top-20 via
    orderBy+limit, planned as TakeOrderedAndProject (per-task heaps +
    a driver merge of 20 rows — no single-partition sort); the full
    (revenue, custkey) tiebreak keeps it equal to the oracle's
    row_number. Revenue ranking happens on doubles derived from exact
    decimal sums, so both engines rank identical values."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    agg = (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(l, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name", "c_acctbal")
        .agg(F.sum(_rev()).cast("double").alias("revenue"))
    )
    return (
        agg.orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
        .select("c_custkey", "c_name", "n_name", "c_acctbal", "revenue")
    )
