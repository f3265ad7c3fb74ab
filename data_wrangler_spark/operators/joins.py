"""Join & richer-filter extensions (SURVEY.md §2.4 "Filters/Joins EXT").

The reference ships exactly one join (inner equi, config.json:36) and
only equality predicates (config.json:20-23,35-37). These builders
declare the full relational join surface in DataFrame form and let
Catalyst/AQE pick physical strategies.

Scale notes (100 TB):
- equi-joins shuffle on the key; AQE converts to broadcast when a
  filtered side fits, and splits skewed partitions
  (`spark.sql.adaptive.skewJoin.enabled`).
- `q_join_broadcast` pins the broadcast explicitly for dimension
  tables that are known-small — the planner can't always see that
  through stats at scale.
- the non-equi range join is O(n·m) nested-loop; its scale path is
  bucketizing the range key into an equi-join prefix (documented in
  SCALE.md) — the declared semantics stay identical.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession, functions as F

from data_wrangler_spark.catalog import load_table
from data_wrangler_spark.registry import register
from data_wrangler_spark.scratch import ROOT, materialize, scratch_tag


@register(
    "q_filter_range",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount, l_shipdate
    FROM lineitem
    WHERE l_quantity BETWEEN 10 AND 20
      AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_returnflag IN ('A', 'R')
    """,
    tags=("ext", "filter"),
)
def q_filter_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Comparison / BETWEEN / IN predicates — the superset of the
    reference's equality-only WHERE surface. All three predicate
    forms push down to Parquet row-group statistics."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        F.col("l_quantity").between(10, 20)
        & (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
        & F.col("l_returnflag").isin("A", "R")
    ).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
        "l_discount", "l_shipdate",
    )


@register(
    "q_join_left",
    oracle="""
    SELECT n.n_nationkey, n.n_name, s.s_suppkey, s.s_name, s.s_acctbal
    FROM nation n LEFT JOIN supplier s ON n.n_nationkey = s.s_nationkey
    """,
    tags=("ext", "join"),
)
def q_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer equi-join; nations without suppliers surface NULLs."""
    n = load_table(spark, sf_dir, "nation").alias("n")
    s = load_table(spark, sf_dir, "supplier").alias("s")
    return n.join(s, F.col("n.n_nationkey") == F.col("s.s_nationkey"), "left").select(
        "n.n_nationkey", "n.n_name", "s.s_suppkey", "s.s_name", "s.s_acctbal"
    )


@register(
    "q_join_semi",
    oracle="""
    SELECT n.* FROM nation n
    WHERE EXISTS (SELECT 1 FROM supplier s WHERE s.s_nationkey = n.n_nationkey)
    """,
    tags=("ext", "join"),
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join: nations having at least one supplier. Plans as
    a broadcast semi at this size; no row duplication ever."""
    n = load_table(spark, sf_dir, "nation")
    s = load_table(spark, sf_dir, "supplier")
    return n.join(s, n.n_nationkey == s.s_nationkey, "left_semi")


@register(
    "q_join_anti",
    oracle="""
    SELECT c.c_custkey, c.c_name, c.c_mktsegment FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P'
    )
    """,
    tags=("ext", "join"),
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join: customers with no in-progress ('P') order —
    non-empty at every scale factor, unlike nation∖supplier."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "P")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


@register(
    "q_join_broadcast",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber, l.l_quantity, p.p_name, p.p_brand, p.p_size
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_size < 10
    """,
    tags=("ext", "join"),
)
def q_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈dim with an explicit broadcast hint: at 100 TB the fact
    side never shuffles — the filtered dimension ships to every
    executor (map-side hash join)."""
    l = load_table(spark, sf_dir, "lineitem").alias("l")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_size") < 10).alias("p")
    return l.join(F.broadcast(p), F.col("l.l_partkey") == F.col("p.p_partkey")).select(
        "l.l_orderkey", "l.l_linenumber", "l.l_quantity",
        "p.p_name", "p.p_brand", "p.p_size",
    )


@register(
    "q_join_range",
    oracle="""
    SELECT s.s_suppkey, s.s_name, c.c_custkey, c.c_acctbal
    FROM supplier s JOIN customer c
      ON c.c_acctbal BETWEEN s.s_acctbal - 100 AND s.s_acctbal
    """,
    tags=("ext", "join"),
)
def q_join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta (range) join — no equality conjunct, so Catalyst plans
    broadcast-nested-loop with the small side broadcast. Scale path:
    bucketize `acctbal` to width-100 bins and equi-join on bin±1
    before the residual BETWEEN filter (see SCALE.md)."""
    s = load_table(spark, sf_dir, "supplier").alias("s")
    c = load_table(spark, sf_dir, "customer").alias("c")
    cond = F.col("c.c_acctbal").between(F.col("s.s_acctbal") - 100, F.col("s.s_acctbal"))
    return F.broadcast(s).join(c, cond).select(
        "s.s_suppkey", "s.s_name", "c.c_custkey", "c.c_acctbal"
    )


@register(
    "q_join_multi",
    oracle="""
    SELECT n.n_name,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(22,6))) AS DOUBLE) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    """,
    tags=("ext", "join", "agg"),
    region="ASIA",
)
def q_join_multi(spark: SparkSession, sf_dir: str, region: str) -> DataFrame:
    """TPC-H Q5-shaped 5-table star join: revenue by nation within a
    region. Declarative star join → Catalyst reorders so the
    region→nation→customer dimension chain broadcasts and only the
    fact tables shuffle.

    Revenue sums INTEGER 4-dp micro-units (cents × discount-cents),
    not DECIMAL(22,6) — exact for 2-dp money × 2-dp discount, and the
    long sum stays in whole-stage codegen where the decimal sum
    allocates BigDecimal per row (the q_agg_groupby measurement:
    4.6×). double(S)/10^4 and double(decimal S) are each one
    correctly-rounded conversion of the same exact rational, so the
    output is bit-identical to the oracle's decimal formulation.
    Overflow bound: ≤1e9 micro-units/row → safe to ~9e9 rows per
    group per task chain; past that, pre-aggregate per (group, salt)
    (SCALE.md)."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == region)
    p_cents = F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long")
    d_cents = F.floor(F.col("l_discount") * 100 + 0.5).cast("long")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            (F.sum(p_cents * (100 - d_cents)).cast("double") / 10_000)
            .alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


@register(
    "q_join_skewed",
    oracle="""
    WITH skewed AS (
      SELECT CASE WHEN o_custkey % 10 < 9 THEN 1 ELSE o_custkey END AS sk_custkey,
             o_totalprice
      FROM orders)
    SELECT c.c_custkey, c.c_name,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(s.o_totalprice AS DECIMAL(22,6))) AS DOUBLE) AS total_spend
    FROM skewed s
    JOIN customer c ON c.c_custkey = s.sk_custkey
    GROUP BY 1, 2
    """,
    tags=("ext", "join", "skew"),
)
def q_join_skewed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-law-key join via explicit salting (plans/skew.py). The
    fixture keyspace is uniform, so the hot key is synthesized: ~90%
    of orders collapse onto custkey 1 (`o_custkey % 10 < 9 → 1`) —
    the shape of a real power-law entity key at 100 TB. The salted
    join replicates the customer side over 8 salt values and spreads
    the hot key's rows by hash(o_orderkey) % 8, so no single task owns
    90% of the probe side even when AQE's skew splitting is off (it
    cannot split broadcast-ineligible hash joins). Result aggregates
    per customer with a decimal-exact spend sum — oracle is the plain
    unsalted join, proving the salt is semantically invisible."""
    from data_wrangler_spark.plans.skew import salted_join

    o = load_table(spark, sf_dir, "orders").select(
        F.when(F.col("o_custkey") % 10 < 9, F.lit(1).cast("long"))
        .otherwise(F.col("o_custkey"))
        .alias("sk_custkey"),
        "o_totalprice",
        "o_orderkey",
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    joined = salted_join(
        o, c, "sk_custkey", "c_custkey", salt_cols=["o_orderkey"], n_salts=8
    )
    return joined.groupBy("c_custkey", "c_name").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(22,6)"))
        .cast("double")
        .alias("total_spend"),
    )


@register(
    "q_join_range_bucketed",
    oracle="""
    SELECT s.s_suppkey, s.s_name, c.c_custkey, c.c_acctbal
    FROM supplier s JOIN customer c
      ON c.c_acctbal BETWEEN s.s_acctbal - 100 AND s.s_acctbal
    """,
    tags=("ext", "join", "range"),
)
def q_join_range_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RANGE JOIN SCALE PATH, demonstrated: identical semantics to
    q_join_range (its oracle is the same SQL), but instead of the
    broadcast-nested-loop O(n·m) plan, the interval predicate becomes
    an equi-join. Each supplier's 100-wide window [s_acctbal-100,
    s_acctbal] spans at most two width-100 bins, so the supplier side
    explodes into those two bin keys (2× a dimension, not the fact),
    both sides equi-join on the bin, and the exact BETWEEN predicate
    remains as a residual filter. A pair can match in only one bin
    (the customer's), so no dedup step is needed. At 100 TB this is
    one co-partitioned shuffle on the bin key — the plan
    broadcast-nested-loop cannot give you — with per-bin fan-out
    bounded by the bin population, and skewed bins handled by AQE or
    plans/skew.salted_join composed on the same key."""
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    sbin = F.floor(F.col("s_acctbal") / 100).cast("long")
    s2 = s.select(
        "s_suppkey",
        "s_name",
        "s_acctbal",
        F.explode(F.array(sbin, sbin - 1)).alias("bk"),
    )
    c2 = c.select(
        "c_custkey",
        "c_acctbal",
        F.floor(F.col("c_acctbal") / 100).cast("long").alias("bk"),
    )
    return (
        s2.join(c2, "bk")
        .filter(
            F.col("c_acctbal").between(F.col("s_acctbal") - 100, F.col("s_acctbal"))
        )
        .select("s_suppkey", "s_name", "c_custkey", "c_acctbal")
    )


_BUCKET_N = 8  # bucket count for the co-located join demo
_BUCKET_SCRATCH = f"{ROOT}/bucketed"
# CREATE TABLE IF NOT EXISTS checks, then creates: two threads that
# both see no table would both create, and one would raise
_BUCKET_REGISTER = threading.Lock()


@register(
    "q_join_bucketed",
    oracle="""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS sum_cents
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY 1
    """,
    tags=("ext", "join", "layout"),
)
def q_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed-table co-located join: both sides are persisted once
    per sf as bucketed tables on the join key (bucketBy(8, custkey) +
    sortBy), so the join consumes the on-disk hash layout instead of
    shuffling either side — with broadcast disabled the physical plan
    is a SortMergeJoin with ZERO Exchange (asserted in
    tests/test_io_formats.py). This is THE pre-partitioning lever for
    a 100 TB fact repeatedly joined on the same key: the shuffle is
    paid once at write time and amortized over every subsequent join
    or aggregation on that key. Bucket count scales with data (8 here;
    thousands on a cluster); AQE cannot give you this — it still
    shuffles, bucketing doesn't. The oracle replays the plain join on
    the raw tables, proving the layout changed nothing semantically.

    The files are published by ``materialize``; each process then
    registers them as a bucketed table over that location (Spark 4
    wants the column list spelled out to declare bucketing)."""
    # dots stripped so the tag is a valid SQL identifier fragment
    tag = scratch_tag(sf_dir).replace(".", "_")
    tables = []
    for tbl, key in (("orders", "o_custkey"), ("customer", "c_custkey")):
        name = f"bkt_{tbl}_{tag}"
        df = load_table(spark, sf_dir, tbl)
        path = materialize(
            f"{_BUCKET_SCRATCH}/{tag}/{name}",
            lambda p: df.write.mode("overwrite")
            .bucketBy(_BUCKET_N, key)
            .sortBy(key)
            .option("path", p)
            .saveAsTable(name),
        )
        with _BUCKET_REGISTER:
            spark.sql(
                f"CREATE TABLE IF NOT EXISTS {name} ({df.schema.toDDL()}) "
                f"USING parquet CLUSTERED BY ({key}) SORTED BY ({key}) "
                f"INTO {_BUCKET_N} BUCKETS LOCATION '{path}'"
            )
        tables.append(spark.table(name))
    o, c = tables
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
            ).alias("sum_cents"),
        )
    )


@register(
    "q_join_null_skew",
    oracle="""
    WITH o2 AS (
      SELECT CASE WHEN o_custkey % 7 = 0 THEN NULL ELSE o_custkey END AS k,
             o_orderstatus, o_totalprice
      FROM orders)
    SELECT o_orderstatus,
           (c.c_custkey IS NOT NULL) AS matched,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(22,6))) AS DOUBLE)
             AS total_spend
    FROM o2 LEFT JOIN customer c ON c.c_custkey = o2.k
    GROUP BY 1, 2
    """,
    tags=("ext", "join", "skew"),
)
def q_join_null_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-key skew segregation — the third skew pattern beside
    salted joins (q_join_skewed) and sharded distinct (q_agg_skewed),
    and the one that needs no salting at all: in an outer join, NULL
    keys can never match, yet a naive plan still SHUFFLES them — and
    since every NULL hashes identically, they all land on ONE task
    (with a nullable FK at 10-20% NULL, that task carries 10-20% of
    the fact table). The rewrite splits the fact side: non-null keys
    take the real join; NULL-key rows BYPASS the shuffle entirely and
    union back with null-extended join columns. ~14% of orders get a
    synthesized NULL key (o_custkey % 7 = 0); the oracle is the plain
    LEFT JOIN on the nullable key, proving the segregation is
    semantically invisible. The aggregate reports matched/unmatched
    row counts and exact decimal spend per status, so a lost or
    duplicated bypass row cannot hash-match.

    At 100 TB this is the first thing to check when one straggler
    task dominates an outer join: SQL NULL semantics make the fix
    free — no salt arithmetic, just a filter and a union."""
    o = load_table(spark, sf_dir, "orders").select(
        F.when(F.col("o_custkey") % 7 == 0, F.lit(None).cast("long"))
        .otherwise(F.col("o_custkey"))
        .alias("k"),
        "o_orderstatus",
        "o_totalprice",
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey")

    joined = o.filter(F.col("k").isNotNull()).join(
        c, F.col("k") == F.col("c_custkey"), "left"
    )
    bypass = o.filter(F.col("k").isNull()).withColumn(
        "c_custkey", F.lit(None).cast("long")
    )
    both = joined.select(
        "o_orderstatus", "o_totalprice", "c_custkey"
    ).unionByName(bypass.select("o_orderstatus", "o_totalprice", "c_custkey"))
    return both.groupBy(
        "o_orderstatus", F.col("c_custkey").isNotNull().alias("matched")
    ).agg(
        F.count("*").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(22,6)"))
        .cast("double")
        .alias("total_spend"),
    )


INCIDENT_SECS = 7200  # q_join_interval: incident window length
INCIDENT_K = 90       # props.k threshold selecting incident events


@register(
    "q_join_interval",
    oracle=f"""
    WITH clk AS (
      SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec
      FROM events WHERE event_type = 'click'),
    a AS (
      SELECT user_id, sec // 86400 AS day_idx,
             MIN(sec) AS a_start, MAX(sec) AS a_end
      FROM clk GROUP BY 1, 2),
    b AS (
      SELECT CAST(floor(epoch(ts)) AS BIGINT)                    AS b_start,
             CAST(floor(epoch(ts)) AS BIGINT) + {INCIDENT_SECS}  AS b_end
      FROM events
      WHERE event_type = 'purchase'
        AND CAST(json_extract(props, '$.k') AS INT) > {INCIDENT_K})
    SELECT a.user_id, a.day_idx, a.a_start, a.a_end,
           CAST(COUNT(*) AS BIGINT) AS n_incidents,
           CAST(SUM(least(a.a_end, b.b_end)
                    - greatest(a.a_start, b.b_start)) AS BIGINT)
             AS overlap_secs
    FROM a JOIN b
      ON a.a_start <= b.b_end AND b.b_start <= a.a_end
    GROUP BY 1, 2, 3, 4
    """,
    tags=("ext", "join"),
)
def q_join_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERVAL-OVERLAP join (the temporal workhorse q_join_range's
    point-in-range form can't express): per-user daily click-activity
    intervals ⨝ 2-hour incident windows (high-k purchases) on
    `a_start ≤ b_end AND b_start ≤ a_end`, aggregated to incidents
    touched and exact overlapped seconds per user-day. All interval
    arithmetic runs in truncated epoch SECONDS (the behavioral.py
    idiom — `F.unix_timestamp` ≡ DuckDB `floor(epoch(ts))`), so
    every bound, comparison, and duration is integer-exact in both
    engines.

    Plan: the oracle states the declarative overlap theta-join; the
    Spark plan is the BIN-BUCKETED form that scales — each activity
    interval lives inside exactly ONE day bin (it is built per day),
    each incident window explodes to the ≤2 day bins it touches
    (`sequence` of day indices), and the join becomes a day-keyed
    EQUI-join + residual overlap filter. Every overlapping pair meets
    in exactly one bin (the a-side has one bin), so no pair dedup is
    needed — hash-equality against the un-binned oracle proves the
    decomposition lossless. At 100 TB this is the standard
    interval-join recipe: bin width ≈ median interval length, fan-out
    bounded by ⌈len/width⌉+1 per row, shuffle on the bin key replaces
    the quadratic broadcast-nested-loop; skewed bins (an incident
    storm) fall to AQE's skew split."""
    ev = load_table(spark, sf_dir, "events")
    sec = F.unix_timestamp(F.col("ts").cast("timestamp"))
    a = (
        ev.filter(F.col("event_type") == "click")
        .select("user_id", sec.alias("sec"))
        .withColumn("day_idx", F.expr("div(sec, 86400)"))
        .groupBy("user_id", "day_idx")
        .agg(F.min("sec").alias("a_start"), F.max("sec").alias("a_end"))
    )
    b = (
        ev.filter(
            (F.col("event_type") == "purchase")
            & (F.get_json_object("props", "$.k").cast("int") > INCIDENT_K)
        )
        .select(sec.alias("b_start"))
        .withColumn("b_end", F.col("b_start") + INCIDENT_SECS)
        .withColumn(
            "day_idx",
            F.explode(
                F.sequence(
                    F.expr("div(b_start, 86400)"), F.expr("div(b_end, 86400)")
                )
            ),
        )
    )
    return (
        a.join(b, "day_idx")
        .filter(
            (F.col("a_start") <= F.col("b_end"))
            & (F.col("b_start") <= F.col("a_end"))
        )
        .groupBy("user_id", "day_idx", "a_start", "a_end")
        .agg(
            F.count("*").alias("n_incidents"),
            F.sum(
                F.least("a_end", "b_end") - F.greatest("a_start", "b_start")
            ).alias("overlap_secs"),
        )
    )
