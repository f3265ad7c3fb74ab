"""Aggregation extensions (SURVEY.md §2.4 "Aggregations EXT").

The reference has zero aggregation (no GROUP BY in any configured or
emitted SQL — the only SQL strings are config.json:19-24,33-38,57-58
and index.js:482,524,575). Everything here is north-star surface.

Float determinism: double sums are order-dependent, and Spark's
partial/final aggregation order differs from DuckDB's scan order. So
every SUM over a double column casts to DECIMAL first (exact,
order-independent) and casts the result back to double; averages are
computed as exact-sum / count in double. This makes Spark and the
oracle agree bit-for-bit regardless of partitioning — which is also
the property that makes results reproducible across cluster sizes at
100 TB.

Scale notes: groupBy plans as partial (map-side) + final hash
aggregation — the shuffle carries only group keys × partial states.
rollup/cube expand the grouping sets before the shuffle (Expand
operator); grouping-set count multiplies shuffle volume, which is the
knob to watch at scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from data_wrangler_spark.catalog import load_table
from data_wrangler_spark.registry import register


def dsum(col: str | Column, scale: str = "decimal(22,6)") -> Column:
    """Order-independent sum of a double column: exact decimal sum,
    result cast back to double (matches the oracle's identical cast)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(scale)).cast("double")


def davg(col: str | Column, scale: str = "decimal(22,6)") -> Column:
    """Order-independent mean: exact decimal sum / count, in double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(scale)).cast("double") / F.count(c)


# SQL fragment mirrors of dsum/davg for the DuckDB oracles.
def _osum(expr: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(22,6))) AS DOUBLE)"


def _oavg(expr: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(22,6))) AS DOUBLE) / COUNT({expr})"


@register(
    "q_agg_global",
    oracle=f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           {_osum('l_quantity')} AS sum_qty,
           {_oavg('l_extendedprice')} AS avg_price,
           MIN(l_shipdate) AS min_ship,
           MAX(l_shipdate) AS max_ship,
           MIN(l_discount) AS min_disc,
           MAX(l_discount) AS max_disc
    FROM lineitem
    """,
    tags=("ext", "agg"),
)
def q_agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ungrouped sum/avg/min/max/count over the fact table."""
    return load_table(spark, sf_dir, "lineitem").agg(
        F.count("*").alias("n_rows"),
        dsum("l_quantity").alias("sum_qty"),
        davg("l_extendedprice").alias("avg_price"),
        F.min("l_shipdate").alias("min_ship"),
        F.max("l_shipdate").alias("max_ship"),
        F.min("l_discount").alias("min_disc"),
        F.max("l_discount").alias("max_disc"),
    )


def _cents(col: str):
    """Money/quantity column → exact integer cents (the values carry
    ≤2 decimal digits; floor(x*100+0.5) is the portable round)."""
    return F.floor(F.col(col) * 100 + 0.5).cast("long")


_OCENTS = "CAST(floor({c} * 100 + 0.5) AS BIGINT)"


@register(
    "q_agg_groupby",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM({_OCENTS.format(c='l_quantity')}) AS DOUBLE) / 100 AS sum_qty,
           CAST(SUM({_OCENTS.format(c='l_extendedprice')}) AS DOUBLE) / 100 AS sum_base_price,
           CAST(SUM({_OCENTS.format(c='l_extendedprice')} * (100 - {_OCENTS.format(c='l_discount')})) AS DOUBLE) / 1000000 AS sum_disc_price,
           CAST(SUM({_OCENTS.format(c='l_extendedprice')} * (100 - {_OCENTS.format(c='l_discount')}) * (100 + {_OCENTS.format(c='l_tax')})) AS DOUBLE) / 10000000000 AS sum_charge,
           CAST(SUM({_OCENTS.format(c='l_quantity')}) AS DOUBLE) / 100 / COUNT(*) AS avg_qty,
           CAST(SUM({_OCENTS.format(c='l_extendedprice')}) AS DOUBLE) / 100 / COUNT(*) AS avg_price,
           CAST(SUM({_OCENTS.format(c='l_discount')}) AS DOUBLE) / 100 / COUNT(*) AS avg_disc,
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("ext", "agg"),
    ship_before="1998-09-02 00:00:00",
)
def q_agg_groupby(
    spark: SparkSession, sf_dir: str, ship_before: str
) -> DataFrame:
    """TPC-H Q1 shape: the canonical hash aggregate — two grouping
    columns, eight aggregates, a date filter. Partial aggregation
    means the shuffle carries ≤ (4 groups × partials) per task no
    matter how many input rows.

    Arithmetic is fixed-point: the money columns are 2-decimal values,
    so they aggregate as integer cents — exact, order-independent, and
    4.6× faster than decimal sums (measured 1.40s → 0.30s at sf0.1;
    long codegen vs BigDecimal). Overflow bound: the charge product is
    ~1e11/row, safe to ~8e7 rows per group per task chain; past that,
    pre-aggregate per (group, salt) in longs and decimal-sum the
    partials (SCALE.md), or store decimals in the schema as TPC-H
    itself does. q_agg_global keeps the decimal pattern for contrast."""
    li = load_table(spark, sf_dir, "lineitem")
    P, D, T, Q = (
        _cents("l_extendedprice"),
        _cents("l_discount"),
        _cents("l_tax"),
        _cents("l_quantity"),
    )
    n = F.count("*")
    return (
        li.filter(F.col("l_shipdate") <= F.lit(ship_before).cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            (F.sum(Q).cast("double") / 100).alias("sum_qty"),
            (F.sum(P).cast("double") / 100).alias("sum_base_price"),
            (F.sum(P * (100 - D)).cast("double") / 1_000_000).alias("sum_disc_price"),
            (F.sum(P * (100 - D) * (100 + T)).cast("double") / 10_000_000_000).alias(
                "sum_charge"
            ),
            (F.sum(Q).cast("double") / 100 / n).alias("avg_qty"),
            (F.sum(P).cast("double") / 100 / n).alias("avg_price"),
            (F.sum(D).cast("double") / 100 / n).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "q_agg_count_distinct",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
           CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS n_priorities,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders
    GROUP BY o_orderstatus
    """,
    tags=("ext", "agg"),
    since=None,
)
def q_agg_count_distinct(
    spark: SparkSession, sf_dir: str, since: str | None
) -> DataFrame:
    """Exact distinct counts per group, optionally over orders placed
    since a bound date (the serving-template parameter; None — the
    registered default — scans everything, matching the oracle).
    Spark plans multi-distinct via Expand; at 100 TB prefer one
    distinct per query or approx_*."""
    o = load_table(spark, sf_dir, "orders")
    if since is not None:
        o = o.filter(
            F.col("o_orderdate") >= F.lit(since).cast("timestamp_ntz")
        )
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.countDistinct("o_orderpriority").alias("n_priorities"),
            F.count("*").alias("n_orders"),
        )
    )


@register(
    "q_agg_approx_distinct",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers_exact,
           TRUE                                      AS approx_within_bound,
           CAST(COUNT(*) AS BIGINT)                  AS n_orders
    FROM orders
    GROUP BY o_orderstatus
    """,
    tags=("ext", "agg", "approx"),
)
def q_agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct estimate — the scale path for distinct
    counting (no Expand, mergeable sketches, bounded memory).

    DuckDB's approx_count_distinct uses a different sketch, so the
    raw estimate can't cross-check; instead the query verifies the
    sketch's accuracy CONTRACT exactly: it computes both the HLL
    estimate (rsd=0.02) and the exact distinct count, and returns the
    exact count plus a boolean asserting the estimate sits inside a
    10·rsd band. The oracle replays the exact count and pins the flag
    TRUE — a hash-matchable check that still exercises the sketch.

    Two deliberate caveats. (1) This VERIFICATION query runs the
    exact aggregate next to the sketch, so it does not exhibit the
    approx path's scale profile — in production the call is the
    approx expression alone; this query is the accuracy audit you run
    on a sampled stratum. (2) HLL's rsd is a standard error, not a
    hard bound, so the in-query band is a loose 10·rsd (estimates
    this far off would make the sketch unusable anyway); the tight
    5·rsd pin lives in tests/test_approx.py, where a miss is a test
    failure rather than a correctness-gate mismatch."""
    bound = 10 * 0.02
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.countDistinct("o_custkey").alias("n_customers_exact"),
            F.approx_count_distinct("o_custkey", rsd=0.02).alias("_approx"),
            F.count("*").alias("n_orders"),
        )
        .select(
            "o_orderstatus",
            "n_customers_exact",
            (
                F.abs(F.col("_approx") - F.col("n_customers_exact"))
                <= F.lit(bound) * F.col("n_customers_exact")
            ).alias("approx_within_bound"),
            "n_orders",
        )
    )


_ROLLUP_ORACLE_BODY = f"""
    SELECT l_returnflag, l_linestatus,
           {_osum('l_quantity')} AS sum_qty,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM lineitem
    GROUP BY {{sets}} (l_returnflag, l_linestatus)
"""


@register(
    "q_agg_rollup",
    oracle=_ROLLUP_ORACLE_BODY.format(sets="ROLLUP"),
    tags=("ext", "agg"),
)
def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP: hierarchical subtotals (flag,status) → (flag) → ()."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(dsum("l_quantity").alias("sum_qty"), F.count("*").alias("n_rows"))
    )


@register(
    "q_agg_cube",
    oracle=_ROLLUP_ORACLE_BODY.format(sets="CUBE"),
    tags=("ext", "agg"),
)
def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all 2^2 grouping-set combinations."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(dsum("l_quantity").alias("sum_qty"), F.count("*").alias("n_rows"))
    )


@register(
    "q_agg_grouping_sets",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {_osum('l_quantity')} AS sum_qty,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
    """,
    tags=("ext", "agg"),
)
def q_agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via Spark SQL (the DataFrame API has no
    direct equivalent — rollup/cube are its fixed special cases)."""
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(22,6))) AS DOUBLE) AS sum_qty,
               COUNT(*) AS n_rows
        FROM {li}
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        """,
        li=load_table(spark, sf_dir, "lineitem"),
    )


@register(
    "q_agg_listagg",
    oracle="""
    SELECT n_regionkey,
           string_agg(n_name, ',' ORDER BY n_name) AS nations,
           CAST(COUNT(*) AS BIGINT) AS n_nations
    FROM nation
    GROUP BY n_regionkey
    """,
    tags=("ext", "agg"),
)
def q_agg_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String aggregation (LISTAGG/STRING_AGG): nation names per
    region, sorted for determinism — collect_list order is
    partition-dependent, so the sort inside the aggregate is
    mandatory, not cosmetic."""
    n = load_table(spark, sf_dir, "nation")
    return n.groupBy("n_regionkey").agg(
        F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations"),
        F.count("*").alias("n_nations"),
    )


@register(
    "q_topk",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
    tags=("ext", "sort"),
    k=10,
)
def q_topk(spark: SparkSession, sf_dir: str, k: int) -> DataFrame:
    """Top-K by measure with pk tiebreaker (K is the serving-template
    parameter). Spark plans TakeOrderedAndProject: each task keeps a
    K-row heap, the driver merges — no global sort, no full shuffle,
    O(K) memory. The right plan at any scale."""
    return (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(int(k))
    )


@register(
    "q_pct_of_total",
    oracle="""
    WITH g AS (
      SELECT l_returnflag, l_linestatus,
             SUM(CAST(l_extendedprice AS DECIMAL(22,6))) AS rev_dec,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM lineitem GROUP BY 1, 2)
    SELECT l_returnflag, l_linestatus, n,
           CAST(rev_dec AS DOUBLE) AS revenue,
           CAST(rev_dec AS DOUBLE) / CAST(SUM(rev_dec) OVER () AS DOUBLE) AS pct_of_total
    FROM g
    """,
    tags=("ext", "agg", "window"),
)
def q_pct_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-total (ratio_to_report): each group's revenue share
    of the grand total. The grand total is a window SUM over the
    *decimal* group sums — exact and order-independent — and only the
    final share division happens in double, so both engines divide
    identical numerators by identical denominators. The window runs
    over the aggregated frame (|groups| rows), not the fact table:
    one real shuffle, then a single-partition pass over a handful of
    rows."""
    li = load_table(spark, sf_dir, "lineitem")
    from pyspark.sql import Window

    g = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(22,6)")).alias("rev_dec"),
        F.count("*").alias("n"),
    )
    total = F.sum("rev_dec").over(Window.partitionBy())
    return g.select(
        "l_returnflag",
        "l_linestatus",
        "n",
        F.col("rev_dec").cast("double").alias("revenue"),
        (F.col("rev_dec").cast("double") / total.cast("double")).alias("pct_of_total"),
    )


@register(
    "q_agg_skewed",
    oracle=f"""
    WITH sk AS (
      SELECT CASE WHEN l_suppkey % 10 < 9 THEN 1 ELSE l_suppkey END AS sk_suppkey,
             l_orderkey, l_extendedprice
      FROM lineitem)
    SELECT sk_suppkey,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
           CAST(COUNT(*) AS BIGINT)                   AS n_rows,
           {_osum('l_extendedprice')}                 AS revenue
    FROM sk
    GROUP BY 1
    """,
    tags=("ext", "agg", "skew"),
)
def q_agg_skewed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-law-key COUNT DISTINCT via salted two-phase aggregation
    (plans/skew.salted_distinct_count) — the groupBy counterpart of
    q_join_skewed. Plain count/sum skew is already fixed by map-side
    partial aggregation; the agg that is NOT is per-key distinct,
    because the distinct STATE itself concentrates: with ~90% of
    lineitem collapsed onto one synthetic supplier key (l_suppkey %
    10 < 9 → 1, the same power-law synthesis as q_join_skewed), one
    task would have to hold and dedup that key's entire order-id set.
    Phase 1 groups by (key, hash(l_orderkey) % 16): a given order id
    always lands in the same shard, so shard-distinct counts are
    disjoint and their sum is exactly COUNT(DISTINCT). The hot key's
    state spreads over 16 tasks; phase 2 merges 16 integers per key.
    Mergeable companions (row count, exact decimal revenue) ride the
    same two phases. Oracle is the plain single-phase GROUP BY,
    proving the sharding is semantically invisible. At 100 TB this
    is how any per-entity distinct over a power-law entity key has
    to run; n_shards scales with the measured hot-key share."""
    from data_wrangler_spark.plans.skew import salted_distinct_count

    li = load_table(spark, sf_dir, "lineitem").select(
        F.when(F.col("l_suppkey") % 10 < 9, F.lit(1).cast("long"))
        .otherwise(F.col("l_suppkey"))
        .alias("sk_suppkey"),
        "l_orderkey",
        "l_extendedprice",
    )
    two_phase = salted_distinct_count(
        li,
        key_cols=["sk_suppkey"],
        val_col="l_orderkey",
        n_shards=16,
        out_col="n_orders",
        extra_aggs=[
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("l_extendedprice").cast("decimal(22,6)")).alias("rev_dec"),
        ],
    )
    return two_phase.select(
        "sk_suppkey",
        "n_orders",
        "n_rows",
        F.col("rev_dec").cast("double").alias("revenue"),
    )


@register(
    "q_bitmap_distinct",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders
    GROUP BY o_orderstatus
    """,
    tags=("ext", "agg", "sketch"),
)
def q_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group COUNT DISTINCT via Spark's BITMAP aggregates
    (bitmap_construct_agg / bitmap_or_agg / bitmap_count, the
    roaring-style dense-int-key path): each task folds its keys into
    a fixed 4KB bitmap per (group, bucket-of-32768), buckets OR
    together (associative, order-independent — bitmap OR is the
    mergeable form COUNT DISTINCT itself lacks), and the final count
    sums the per-bucket popcounts. The oracle is plain COUNT
    DISTINCT: the whole bitmap pipeline must land on the exact
    answer, making the bitmap path verified rather than trusted.

    Scale: for dense integer keys this beats generic distinct-hash
    aggregation — state is |keyspace|/8 bits per group spread over
    fixed-size buckets instead of a hash set of the keys, shuffle
    carries bitmaps not keys, and it composes with the sharded
    two-phase shape (q_agg_skewed) when one group dominates. For
    sparse/wide keys (uuids) the hash path or KMV/HLL sketches win —
    the bucket fan-out tracks the VALUE RANGE, not the value count."""
    o = load_table(spark, sf_dir, "orders")
    per_bucket = (
        o.select(
            "o_orderstatus",
            F.expr("bitmap_bucket_number(o_custkey)").alias("bucket"),
            F.col("o_custkey").alias("k"),
        )
        .groupBy("o_orderstatus", "bucket")
        .agg(
            F.expr("bitmap_construct_agg(bitmap_bit_position(k))").alias("bm"),
            F.count("*").alias("n_rows"),
        )
    )
    return (
        per_bucket.groupBy("o_orderstatus")
        .agg(
            F.sum(F.expr("bitmap_count(bm)")).alias("n_customers"),
            F.sum("n_rows").alias("n_orders"),
        )
    )
