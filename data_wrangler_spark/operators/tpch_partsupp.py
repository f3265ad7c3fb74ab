"""TPC-H Q2/Q11/Q20/Q21 over a deterministic *derived* partsupp view.

The driver fixtures ship no partsupp table, which kept these four
partsupp-critical shapes out of scope through round 2 (SURVEY.md §2.5).
This module closes the gap without new fixture data: partsupp is
DERIVED — one row per distinct (l_partkey, l_suppkey) pair observed in
lineitem, with availqty/supplycost computed from the repo's
cross-engine md5 hash (`dedup._md5_long`) so Spark and the DuckDB
oracle materialize bit-identical supply economics. Supply cost is kept
in integer CENTS end to end, so every sum/min/comparison is exact
64-bit arithmetic on both engines — no float divergence possible.

The reference gateway cannot express any of these (single-template
routes, no aggregation — SURVEY.md §2.4; `/root/reference/index.js:
264-325` synthesizes one SELECT per route); they are carried as named
catalog queries like the rest of the TPC-H family (tpch.py,
tpch_more.py).

Schema adaptations (same spirit as tpch_more.py): the synthetic part
table has no p_mfgr and only 6 p_type values, so Q2's predicate is
``p_size <= 15 AND p_type = 'LARGE'``; lineitem has no
commit/receipt dates, so Q21's "kept orders waiting" uses
``l_shipdate > o_orderdate + 60 days`` as the lateness predicate.
Shapes — correlated scalar-min (Q2), HAVING over a global scalar
(Q11), nested semi-joins over an aggregate threshold (Q20),
EXISTS/NOT-EXISTS over sibling lineitems (Q21) — are preserved.

Scale notes (100 TB): the derived partsupp is one map-side-combined
DISTINCT over lineitem's (partkey, suppkey) — at TPC-H proportions
|partsupp| ≈ |lineitem|/7.5, and everything downstream joins it on
its own key. Q2 aggregates min-cost per partkey then joins back — two
shuffles on ps_partkey that AQE plans as one exchange reuse; supplier/
nation/region broadcast. Q11 is one grouped sum plus a broadcast
1-row global scalar (no driver collect). Q20 is semi-join chains on
(partkey, suppkey) — co-partitioned, no fan-out. Q21 decorrelates the
EXISTS/NOT-EXISTS pair into one per-order distinct-supplier aggregate
joined back to the late lines — the classic rewrite that replaces
per-row subquery execution with two hash shuffles on l_orderkey.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from data_wrangler_spark.catalog import load_table
from data_wrangler_spark.operators.dedup import _md5_long, _sql_md5_long
from data_wrangler_spark.registry import register


# -- the derived partsupp view ------------------------------------------------

_PS_HASH_SQL = _sql_md5_long(
    "(CAST(l_partkey AS VARCHAR) || '#' || CAST(l_suppkey AS VARCHAR))"
)

# DuckDB CTE body — keep textually stable; every oracle below embeds it.
PARTSUPP_SQL = f"""
partsupp AS (
  SELECT ps_partkey, ps_suppkey,
         CAST(1 + h % 9999 AS INT) AS ps_availqty,
         CAST(100 + h % 99900 AS BIGINT) AS ps_supplycost_cents
  FROM (SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
               {_PS_HASH_SQL} AS h
        FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem))
)"""


def partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived partsupp: distinct (partkey, suppkey) pairs from lineitem
    with hash-deterministic availqty and supply cost in integer cents.

    The DISTINCT partial-aggregates map-side before one shuffle on the
    pair key; the hash columns are pure projections after it."""
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    h = _md5_long(
        F.concat(
            F.col("l_partkey").cast("string"),
            F.lit("#"),
            F.col("l_suppkey").cast("string"),
        )
    )
    return li.select(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
        (F.lit(1) + h % 9999).cast("int").alias("ps_availqty"),
        (F.lit(100) + h % 99900).cast("long").alias("ps_supplycost_cents"),
    )


# -- Q2: minimum-cost supplier ------------------------------------------------


@register(
    "q_tpch_q2",
    oracle=f"""
    WITH {PARTSUPP_SQL},
    eu AS (
      SELECT ps.ps_partkey, ps.ps_supplycost_cents, s.s_acctbal, s.s_name, n.n_name
      FROM partsupp ps
      JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
      JOIN nation n   ON s.s_nationkey = n.n_nationkey
      JOIN region r   ON n.n_regionkey = r.r_regionkey
      WHERE r.r_name = 'EUROPE'),
    mc AS (SELECT ps_partkey, MIN(ps_supplycost_cents) AS min_cost_cents
           FROM eu GROUP BY 1)
    SELECT eu.s_acctbal, eu.s_name, eu.n_name, p.p_partkey, p.p_name,
           eu.ps_supplycost_cents
    FROM part p
    JOIN eu ON p.p_partkey = eu.ps_partkey
    JOIN mc ON mc.ps_partkey = p.p_partkey
           AND eu.ps_supplycost_cents = mc.min_cost_cents
    WHERE p.p_size <= 15 AND p.p_type = 'LARGE'
    ORDER BY eu.s_acctbal DESC, eu.n_name, eu.s_name, p.p_partkey
    LIMIT 100
    """,
    tags=("ext", "tpch", "join", "agg", "subquery"),
)
def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 (minimum-cost supplier): for each small LARGE-type
    part, the European supplier(s) offering it at the minimum supply
    cost. The correlated scalar-min subquery decorrelates to a grouped
    MIN over the region-filtered partsupp joined back on (partkey,
    min-cost) — Catalyst reuses the exchange between the two aggregate
    consumers, so partsupp shuffles once. supplier/nation/region
    broadcast; integer-cents cost makes the min exact cross-engine.
    Top-100 by account balance plans as TakeOrderedAndProject with a
    full unique tiebreak (acctbal, nation, supplier, partkey)."""
    ps = partsupp(spark, sf_dir)
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_size") <= 15) & (F.col("p_type") == "LARGE")
    )
    eu = (
        ps.join(F.broadcast(s), ps.ps_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("ps_partkey", "ps_supplycost_cents", "s_acctbal", "s_name", "n_name")
    )
    mc = (
        eu.groupBy("ps_partkey")
        .agg(F.min("ps_supplycost_cents").alias("min_cost_cents"))
        .withColumnRenamed("ps_partkey", "mc_partkey")
    )
    return (
        F.broadcast(p)
        .join(eu, F.col("p_partkey") == F.col("ps_partkey"))
        .join(mc, F.col("mc_partkey") == F.col("p_partkey"))
        .filter(F.col("ps_supplycost_cents") == F.col("min_cost_cents"))
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey", "p_name",
            "ps_supplycost_cents",
        )
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


# -- Q11: important stock identification --------------------------------------


@register(
    "q_tpch_q11",
    oracle=f"""
    WITH {PARTSUPP_SQL},
    nat AS (
      SELECT ps.ps_partkey,
             ps.ps_supplycost_cents * CAST(ps.ps_availqty AS BIGINT) AS v
      FROM partsupp ps
      JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
      JOIN nation n   ON s.s_nationkey = n.n_nationkey
      WHERE n.n_name = 'NATION_7')
    SELECT ps_partkey, CAST(SUM(v) AS BIGINT) AS value_cents
    FROM nat
    GROUP BY ps_partkey
    HAVING SUM(v) * 1000 > (SELECT SUM(v) FROM nat)
    """,
    tags=("ext", "tpch", "agg", "subquery"),
)
def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (important stock): per-part inventory value held by
    one nation's suppliers, keeping parts whose value exceeds 1/1000
    of the nation's total — HAVING over a global scalar subquery. The
    global total is a 1-row aggregate cross-joined (broadcast) onto
    the grouped sums: no driver collect, no second scan of partsupp
    (both aggregates consume the same shuffled frame, exchange reuse).
    Integer-cents values make the threshold comparison exact 64-bit
    arithmetic on both engines."""
    ps = partsupp(spark, sf_dir)
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
    nat = (
        ps.join(F.broadcast(s), ps.ps_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            "ps_partkey",
            (
                F.col("ps_supplycost_cents") * F.col("ps_availqty").cast("long")
            ).alias("v"),
        )
    )
    per_part = nat.groupBy("ps_partkey").agg(F.sum("v").alias("value_cents"))
    total = nat.agg(F.sum("v").alias("total_cents"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("value_cents") * 1000 > F.col("total_cents"))
        .select("ps_partkey", "value_cents")
    )


# -- Q20: potential part promotion --------------------------------------------


@register(
    "q_tpch_q20",
    oracle=f"""
    WITH {PARTSUPP_SQL},
    shipped AS (
      SELECT l_partkey, l_suppkey, SUM(CAST(l_quantity AS BIGINT)) AS qty
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1997-01-01'
      GROUP BY 1, 2),
    excess AS (
      SELECT DISTINCT ps.ps_suppkey
      FROM partsupp ps
      JOIN shipped sh ON sh.l_partkey = ps.ps_partkey
                     AND sh.l_suppkey = ps.ps_suppkey
      WHERE ps.ps_partkey IN (SELECT p_partkey FROM part
                              WHERE p_name LIKE 'red%')
        AND ps.ps_availqty * 2 > sh.qty)
    SELECT s.s_suppkey, s.s_name
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN excess e ON e.ps_suppkey = s.s_suppkey
    WHERE n.n_name = 'NATION_3'
    """,
    tags=("ext", "tpch", "join", "subquery", "semi"),
)
def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 (potential part promotion): suppliers in one nation
    holding excess stock (availqty > half the quantity they shipped in
    1996) of red parts. Nested semi-join chain: part-name filter →
    left-semi onto partsupp (broadcast — the filtered part list is
    small), partsupp ⋈ shipped on the composite (partkey, suppkey) key
    (co-partitioned shuffle, no fan-out), then the distinct supplier
    set semi-joins the nation-filtered supplier dim. The quantity
    threshold compares exact BIGINTs (integral quantities cast per-row
    before the sum on both engines)."""
    li = load_table(spark, sf_dir, "lineitem")
    shipped = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("qty"))
    )
    red_parts = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("red%"))
        .select("p_partkey")
    )
    ps = partsupp(spark, sf_dir).join(
        F.broadcast(red_parts),
        F.col("ps_partkey") == F.col("p_partkey"),
        "left_semi",
    )
    excess = (
        ps.join(
            shipped,
            (ps.ps_partkey == shipped.l_partkey)
            & (ps.ps_suppkey == shipped.l_suppkey),
        )
        .filter(F.col("ps_availqty") * 2 > F.col("qty"))
        .select("ps_suppkey")
        .distinct()
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    return (
        s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(excess), F.col("s_suppkey") == F.col("ps_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
    )


# -- Q21: suppliers who kept orders waiting -----------------------------------


@register(
    "q_tpch_q21",
    oracle="""
    WITH f_orders AS (
      SELECT o_orderkey, o_orderdate FROM orders WHERE o_orderstatus = 'F'),
    lines AS (
      SELECT l.l_orderkey, l.l_suppkey,
             CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
                  THEN 1 ELSE 0 END AS is_late
      FROM lineitem l JOIN f_orders o ON l.l_orderkey = o.o_orderkey),
    per_order AS (
      SELECT l_orderkey,
             COUNT(DISTINCT l_suppkey) AS nsupp,
             COUNT(DISTINCT CASE WHEN is_late = 1 THEN l_suppkey END) AS nlate
      FROM lines GROUP BY 1)
    SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM lines l
    JOIN per_order po ON po.l_orderkey = l.l_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE l.is_late = 1 AND po.nlate = 1 AND po.nsupp >= 2
      AND n.n_name = 'NATION_7'
    GROUP BY s.s_name
    """,
    tags=("ext", "tpch", "join", "agg", "anti"),
)
def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 (suppliers who kept orders waiting), adapted: the
    fixtures carry no commit/receipt dates, so "late" is l_shipdate >
    o_orderdate + 60 days. For finished ('F') orders, count late lines
    from suppliers who were the ONLY late supplier on a multi-supplier
    order — the classic EXISTS (another supplier on the order) + NOT
    EXISTS (another LATE supplier) pair. Decorrelated: one per-order
    aggregate computes distinct-supplier and distinct-late-supplier
    counts, joined back to the late lines — two hash shuffles on
    l_orderkey instead of per-row subqueries (the rewrite any engine
    needs at 100 TB; Spark reuses the lineitem⋈orders exchange for
    both consumers). Supplier/nation broadcast at the end."""
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    lines = li.join(o, F.col("l_orderkey") == F.col("o_orderkey")).select(
        "l_orderkey",
        "l_suppkey",
        F.when(
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("is_late"),
    )
    per_order = lines.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("nsupp"),
        F.countDistinct(
            F.when(F.col("is_late") == 1, F.col("l_suppkey"))
        ).alias("nlate"),
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
    late = lines.filter(F.col("is_late") == 1)
    return (
        late.join(
            per_order.filter((F.col("nlate") == 1) & (F.col("nsupp") >= 2)),
            "l_orderkey",
        )
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )
