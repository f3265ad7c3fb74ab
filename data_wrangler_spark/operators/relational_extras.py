"""Relational completeness extras: pivot/unpivot, HAVING, percentiles,
conditional functions, subqueries, as-of join, fuzzy dedup.

None of these exist in the reference (its SQL surface is the eleven
shapes in SURVEY §2.2); they round out what a user of a general
analytics engine expects, each with an exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from data_wrangler_spark.catalog import load_table
from data_wrangler_spark.operators.aggregates import dsum
from data_wrangler_spark.registry import register


@register(
    "q_pivot",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) FILTER (o_orderstatus = 'F') AS BIGINT) AS n_f,
           CAST(COUNT(*) FILTER (o_orderstatus = 'O') AS BIGINT) AS n_o,
           CAST(COUNT(*) FILTER (o_orderstatus = 'P') AS BIGINT) AS n_p,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(22,6))) FILTER (o_orderstatus = 'F') AS DOUBLE) AS total_f
    FROM orders
    GROUP BY o_orderpriority
    """,
    tags=("ext", "pivot"),
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot order status into columns per priority. Explicit value
    list — at scale an unlisted pivot triggers a distinct-scan first;
    always enumerate when the domain is known."""
    o = load_table(spark, sf_dir, "orders")
    p = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        # pivot aggregates must be bare aggregate calls (no outer
        # cast/arithmetic) — post-cast in the select below instead
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(22,6)")).alias("total"),
        )
    )
    return p.select(
        "o_orderpriority",
        F.col("F_n").alias("n_f"),
        F.col("O_n").alias("n_o"),
        F.col("P_n").alias("n_p"),
        F.col("F_total").cast("double").alias("total_f"),
    )


@register(
    "q_unpivot",
    oracle="""
    SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS value FROM part
    UNION ALL
    SELECT p_partkey, 'p_retailprice' AS metric, p_retailprice AS value FROM part
    """,
    tags=("ext", "pivot"),
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt) part metrics into long form — zero-shuffle
    row expansion."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.col("p_size").cast("double").alias("p_size"),
        F.col("p_retailprice").alias("p_retailprice"),
    ).unpivot("p_partkey", ["p_size", "p_retailprice"], "metric", "value")


@register(
    "q_agg_having",
    oracle="""
    SELECT o_custkey,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(22,6))) AS DOUBLE) AS total_spend
    FROM orders
    GROUP BY o_custkey
    HAVING COUNT(*) >= 15
    """,
    tags=("ext", "agg"),
)
def q_agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY + HAVING (post-aggregation filter): high-frequency
    customers."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"), dsum("o_totalprice").alias("total_spend"))
        .filter(F.col("n_orders") >= 15)
    )


@register(
    "q_agg_percentile",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.5)       AS median_qty,
           quantile_cont(l_extendedprice, 0.25) AS p25_price,
           quantile_cont(l_extendedprice, 0.9)  AS p90_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("ext", "agg"),
)
def q_agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles per group (identical linear interpolation in
    Spark and DuckDB — verified). Exact percentile sorts per group;
    the 100 TB path is percentile_approx (mergeable KLL-style sketch,
    bounded memory)."""
    li = load_table(spark, sf_dir, "lineitem")
    # the two price points share ONE percentile buffer (bit-identical
    # to independent aggregates; halves the per-group value buffering)
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.percentile("l_quantity", 0.5).alias("median_qty"),
            F.percentile(
                "l_extendedprice", F.array(F.lit(0.25), F.lit(0.9))
            ).alias("_pp"),
        )
        .select(
            "l_returnflag",
            "median_qty",
            F.col("_pp")[0].alias("p25_price"),
            F.col("_pp")[1].alias("p90_price"),
        )
    )


@register(
    "q_agg_approx_percentile",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.5)       AS median_qty_exact,
           TRUE                                 AS median_in_rank_band,
           quantile_cont(l_extendedprice, 0.9)  AS p90_price_exact,
           TRUE                                 AS p90_in_rank_band
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("ext", "agg", "approx"),
)
def q_agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles (Greenwald–Khanna sketch) — the 100 TB
    path for q_agg_percentile: mergeable, bounded-memory, no per-group
    sort.

    DuckDB's approx_quantile is a different sketch (t-digest), so the
    raw estimate can't cross-check; instead the query verifies GK's
    rank-error CONTRACT exactly: accuracy=10000 guarantees the
    returned value sits within ±1/10000 rank of the target (a HARD
    guarantee, unlike HLL's standard error), so it must lie inside
    the exact [q-0.01, q+0.01] value band (100× the guaranteed
    slack). The query computes both the sketch estimate and the exact
    band per group and returns the exact percentile plus the in-band
    boolean; the oracle replays the exact percentile and pins the
    flag TRUE — hash-matchable, still exercising GK.

    Note this VERIFICATION query runs exact percentiles next to the
    sketch, so it does not exhibit the approx path's scale profile —
    in production the call is percentile_approx alone; this query is
    the accuracy audit you run on a sampled stratum."""
    li = load_table(spark, sf_dir, "lineitem")
    # the three exact percentiles per column come from ONE buffer
    # (percentile over an array of percentages) instead of three
    # independent sort-aggregate buffers each holding every group
    # value — 6 exact-percentile buffers → 2, same interpolation
    # arithmetic on the same sorted buffer, bit-identical output
    # (A/B: zero differing rows, 3.0 s → 1.5 s at sf0.1; guide §1.2
    # per-task work)
    qarr = F.array(F.lit(0.49), F.lit(0.5), F.lit(0.51))
    parr = F.array(F.lit(0.89), F.lit(0.9), F.lit(0.91))
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.percentile("l_quantity", qarr).alias("_q"),
            F.percentile_approx("l_quantity", 0.5, 10000).alias("_med_a"),
            F.percentile("l_extendedprice", parr).alias("_p"),
            F.percentile_approx("l_extendedprice", 0.9, 10000).alias("_p90_a"),
        )
        .select(
            "l_returnflag",
            F.col("_q")[1].alias("median_qty_exact"),
            F.col("_med_a").between(F.col("_q")[0], F.col("_q")[2]).alias(
                "median_in_rank_band"
            ),
            F.col("_p")[1].alias("p90_price_exact"),
            F.col("_p90_a").between(F.col("_p")[0], F.col("_p")[2]).alias(
                "p90_in_rank_band"
            ),
        )
    )


@register(
    "q_cond_funcs",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice > 200000 THEN 'big'
                WHEN o_totalprice > 100000 THEN 'medium'
                ELSE 'small' END                          AS size_class,
           coalesce(nullif(o_orderstatus, 'P'), 'PENDING') AS status_display,
           greatest(o_totalprice, 150000.0)                AS price_floor150k,
           least(CAST(year(o_orderdate) AS INT), 1996)     AS year_capped,
           (o_orderstatus = 'F' AND o_totalprice < 50000)  AS small_final
    FROM orders
    """,
    tags=("ext", "scalar"),
)
def q_cond_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional family: CASE/coalesce/nullif/greatest/least and
    boolean composition."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") > 200000, "big")
        .when(F.col("o_totalprice") > 100000, "medium")
        .otherwise("small")
        .alias("size_class"),
        F.coalesce(F.nullif("o_orderstatus", F.lit("P")), F.lit("PENDING")).alias(
            "status_display"
        ),
        F.greatest("o_totalprice", F.lit(150000.0)).alias("price_floor150k"),
        F.least(F.year("o_orderdate"), F.lit(1996)).alias("year_capped"),
        ((F.col("o_orderstatus") == "F") & (F.col("o_totalprice") < 50000)).alias(
            "small_final"
        ),
    )


@register(
    "q_subquery_in",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE')
      AND o_orderstatus = 'F'
    """,
    tags=("ext", "subquery"),
)
def q_subquery_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-subquery — planned as a left-semi join (same physical shape
    as q_join_semi; IN is the SQL spelling)."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "AUTOMOBILE")
        .select("c_custkey")
    )
    return o.join(c, o.o_custkey == c.c_custkey, "left_semi").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


@register(
    "q_subquery_scalar",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem
    WHERE l_quantity > (SELECT SUM(l_quantity) / COUNT(*) FROM lineitem) * 1.5
    """,
    tags=("ext", "subquery"),
)
def q_subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery threshold: items 1.5× the mean quantity.
    Expressed via Spark SQL so Catalyst plans the scalar subquery as
    a broadcast single-row value (l_quantity is integer-valued, so
    SUM/COUNT is exact in both engines)."""
    return spark.sql(
        """
        SELECT l_orderkey, l_linenumber, l_quantity
        FROM {li}
        WHERE l_quantity > (SELECT SUM(l_quantity) / COUNT(*) FROM {li}) * 1.5
        """,
        li=load_table(spark, sf_dir, "lineitem"),
    )


@register(
    "q_null_funcs",
    oracle="""
    SELECT n.n_nationkey, n.n_name,
           (s.s_suppkey IS NULL)                    AS no_supplier,
           coalesce(s.s_name, '<none>')             AS supplier_display,
           coalesce(s.s_acctbal, 0.0)               AS acctbal_filled,
           (s.s_acctbal IS NOT DISTINCT FROM NULL)  AS bal_is_null
    FROM nation n LEFT JOIN supplier s ON n.n_nationkey = s.s_nationkey
    """,
    tags=("ext", "scalar", "null"),
)
def q_null_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-semantics family over outer-join output: IS NULL,
    coalesce fills, and null-safe equality (Spark `<=>` ≡ SQL
    IS NOT DISTINCT FROM). Three-valued logic is where engines
    quietly disagree — pinned here."""
    n = load_table(spark, sf_dir, "nation").alias("n")
    s = load_table(spark, sf_dir, "supplier").alias("s")
    j = n.join(s, F.col("n.n_nationkey") == F.col("s.s_nationkey"), "left")
    return j.select(
        "n.n_nationkey",
        "n.n_name",
        F.col("s.s_suppkey").isNull().alias("no_supplier"),
        F.coalesce("s.s_name", F.lit("<none>")).alias("supplier_display"),
        F.coalesce("s.s_acctbal", F.lit(0.0)).alias("acctbal_filled"),
        F.col("s.s_acctbal").eqNullSafe(F.lit(None).cast("double")).alias("bal_is_null"),
    )


@register(
    "q_agg_stats",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(22,6))) AS DOUBLE) AS s1,
           CAST(SUM(CAST(l_quantity AS DECIMAL(22,6)) * CAST(l_quantity AS DECIMAL(22,6))) AS DOUBLE) AS s2,
           (CAST(SUM(CAST(l_quantity AS DECIMAL(22,6)) * CAST(l_quantity AS DECIMAL(22,6))) AS DOUBLE)
             - CAST(SUM(CAST(l_quantity AS DECIMAL(22,6))) AS DOUBLE)
               * CAST(SUM(CAST(l_quantity AS DECIMAL(22,6))) AS DOUBLE) / COUNT(*))
             / (COUNT(*) - 1) AS var_qty,
           sqrt((CAST(SUM(CAST(l_quantity AS DECIMAL(22,6)) * CAST(l_quantity AS DECIMAL(22,6))) AS DOUBLE)
             - CAST(SUM(CAST(l_quantity AS DECIMAL(22,6))) AS DOUBLE)
               * CAST(SUM(CAST(l_quantity AS DECIMAL(22,6))) AS DOUBLE) / COUNT(*))
             / (COUNT(*) - 1)) AS stddev_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("ext", "agg"),
)
def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample variance/stddev via exact decimal moments. The built-in
    stddev_samp is Welford-style and partition-order dependent — its
    last bits differ between engines and across partitionings — so
    the engine computes (Σx², Σx) exactly in decimal and derives
    var = (s2 − s1²/n)/(n−1) in identical double arithmetic on both
    sides. Same mergeability (two partial sums), deterministic
    result at any scale."""
    li = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("decimal(22,6)")
    s1 = F.sum(q).cast("double")
    s2 = F.sum(q * q).cast("double")
    n = F.count("*")
    var = (s2 - s1 * s1 / n) / (n - 1)
    return li.groupBy("l_returnflag").agg(
        n.alias("n"),
        s1.alias("s1"),
        s2.alias("s2"),
        var.alias("var_qty"),
        F.sqrt(var).alias("stddev_qty"),
    )


@register(
    "q_date_series",
    oracle="""
    WITH bounds AS (
      SELECT CAST(date_trunc('day', min(o_orderdate)) AS DATE) AS d0,
             CAST(date_trunc('day', max(o_orderdate)) AS DATE) AS d1
      FROM orders),
    spine AS (
      SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
      FROM bounds),
    daily AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY 1)
    SELECT s.day, coalesce(d.n_orders, 0) AS n_orders
    FROM spine s LEFT JOIN daily d ON s.day = d.day
    """,
    tags=("ext", "timeseries"),
)
def q_date_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled time series: a generated date spine left-joined to
    daily order counts, zeros where no orders exist — the canonical
    reporting/gap-fill operator. The spine is sequence+explode from
    the data's own min/max (no collect); at scale the spine is tiny
    and broadcast while the aggregate side shuffles once."""
    o = load_table(spark, sf_dir, "orders")
    bounds = o.agg(
        F.min(F.col("o_orderdate").cast("date")).alias("d0"),
        F.max(F.col("o_orderdate").cast("date")).alias("d1"),
    )
    spine = bounds.select(
        F.explode(F.sequence("d0", "d1")).alias("day")
    )
    daily = (
        o.groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(F.count("*").alias("n_orders"))
    )
    return (
        spine.join(daily, "day", "left")
        .select("day", F.coalesce("n_orders", F.lit(0)).alias("n_orders"))
    )


@register(
    "q_join_asof",
    oracle="""
    WITH purchases AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'),
         errors    AS (SELECT user_id, ts FROM events WHERE event_type = 'error')
    SELECT p.event_id, p.user_id, p.ts, p.value, e.ts AS last_error_ts
    FROM purchases p ASOF LEFT JOIN errors e
      ON p.user_id = e.user_id AND p.ts >= e.ts
    """,
    tags=("ext", "join", "asof"),
)
def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (Spark has no native one): for each purchase, the
    most recent error by the same user at-or-before it. Implemented
    the scalable way — union both sides tagged, one window pass with
    last(ignorenulls) over (user, time) — a single shuffle on
    user_id, no per-group Python, no range explosion. Matches DuckDB
    ASOF LEFT JOIN (inclusive on equal timestamps: the error sorts
    before the purchase at the same instant)."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value", F.lit(1).alias("is_p"),
        F.lit(None).cast("timestamp_ntz").alias("err_ts"),
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        F.lit(None).cast("long").alias("event_id"),
        "user_id",
        "ts",
        F.lit(None).cast("double").alias("value"),
        F.lit(0).alias("is_p"),
        F.col("ts").alias("err_ts"),
    )
    # sort key: at equal ts the error (is_p=0) precedes the purchase,
    # making the join inclusive like DuckDB's `p.ts >= e.ts`
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_p")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        purchases.unionByName(errors)
        .withColumn("last_error_ts", F.last("err_ts", ignorenulls=True).over(w))
        .filter(F.col("is_p") == 1)
        .select("event_id", "user_id", "ts", "value", "last_error_ts")
    )


ASOF_TOL_US = 3_600_000_000  # 1 hour, in microseconds


@register(
    "q_join_asof_tolerance",
    oracle=f"""
    WITH purchases AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'),
         errors    AS (SELECT user_id, ts FROM events WHERE event_type = 'error')
    SELECT p.event_id, p.user_id, p.ts, p.value,
           CASE WHEN e.ts IS NOT NULL
                 AND epoch_us(p.ts) - epoch_us(e.ts) <= {ASOF_TOL_US}
                THEN e.ts END AS last_error_ts,
           CASE WHEN e.ts IS NOT NULL
                 AND epoch_us(p.ts) - epoch_us(e.ts) <= {ASOF_TOL_US}
                THEN CAST(epoch_us(p.ts) - epoch_us(e.ts) AS BIGINT)
                END AS stale_us
    FROM purchases p ASOF LEFT JOIN errors e
      ON p.user_id = e.user_id AND p.ts >= e.ts
    """,
    tags=("ext", "join", "asof"),
)
def q_join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a TOLERANCE (pandas merge_asof's tolerance=,
    kdb's wj window bound): each purchase matches the most recent
    same-user error only if it is at most 1 hour stale — older state
    is treated as missing, the rule every feature-store point-in-time
    lookup applies so models never train on expired features. Same
    single-shuffle union+window plan as q_join_asof; the tolerance is
    one integer-microsecond comparison applied AFTER the window pass
    (the candidate is still the nearest one — a candidate beyond
    tolerance must NOT fall back to an older match, which is why the
    filter cannot be pushed into the window). Output adds stale_us,
    the measured staleness of each accepted match.

    Scale: identical to q_join_asof — one shuffle on user_id, O(1)
    state per row in the window pass; the tolerance adds a scan-side
    projection only."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value", F.lit(1).alias("is_p"),
        F.lit(None).cast("timestamp_ntz").alias("err_ts"),
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        F.lit(None).cast("long").alias("event_id"),
        "user_id",
        "ts",
        F.lit(None).cast("double").alias("value"),
        F.lit(0).alias("is_p"),
        F.col("ts").alias("err_ts"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_p")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cand = (
        purchases.unionByName(errors)
        .withColumn("_cand", F.last("err_ts", ignorenulls=True).over(w))
        .filter(F.col("is_p") == 1)
    )
    diff = F.unix_micros(F.col("ts").cast("timestamp")) - F.unix_micros(
        F.col("_cand").cast("timestamp")
    )
    ok = F.col("_cand").isNotNull() & (diff <= ASOF_TOL_US)
    return cand.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.when(ok, F.col("_cand")).alias("last_error_ts"),
        F.when(ok, diff).cast("long").alias("stale_us"),
    )


@register(
    "q_scd2_intervals",
    oracle="""
    WITH ordered AS (
      SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
             CASE WHEN lag(o_orderstatus) OVER w IS DISTINCT FROM o_orderstatus
                  THEN 1 ELSE 0 END AS chg
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
    runs AS (
      SELECT *, SUM(chg) OVER (PARTITION BY o_custkey
                               ORDER BY o_orderdate, o_orderkey
                               ROWS UNBOUNDED PRECEDING) AS run_id
      FROM ordered),
    intervals AS (
      SELECT o_custkey, o_orderstatus AS status, run_id,
             MIN(o_orderdate) AS valid_from,
             CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM runs GROUP BY 1, 2, 3)
    SELECT o_custkey, status, valid_from,
           lead(valid_from) OVER (PARTITION BY o_custkey ORDER BY run_id)
             AS valid_to,
           n_orders,
           (lead(valid_from) OVER (PARTITION BY o_custkey ORDER BY run_id)
              IS NULL) AS is_current
    FROM intervals
    """,
    tags=("ext", "cdc"),
)
def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 history build (the CDC fold, emulated without Delta):
    collapse each customer's consecutive same-status orders into
    validity intervals [valid_from, valid_to) with an is_current
    flag — lag-compare → change flag → running-sum run ids → interval
    aggregation → lead for the closing edge. Two window passes plus
    one aggregate over the same (custkey, time) partitioning: one
    shuffle at any scale; this is how dimension history is maintained
    on plain Parquet."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    runs = o.select(
        "o_custkey",
        "o_orderstatus",
        "o_orderdate",
        "o_orderkey",
        F.when(
            ~F.lag("o_orderstatus").over(w).eqNullSafe(F.col("o_orderstatus")), 1
        ).otherwise(0).alias("chg"),
    ).withColumn(
        "run_id",
        F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    intervals = runs.groupBy(
        "o_custkey", F.col("o_orderstatus").alias("status"), "run_id"
    ).agg(
        F.min("o_orderdate").alias("valid_from"),
        F.count("*").alias("n_orders"),
    )
    w2 = Window.partitionBy("o_custkey").orderBy("run_id")
    return intervals.select(
        "o_custkey",
        "status",
        "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
        "n_orders",
        F.lead("valid_from").over(w2).isNull().alias("is_current"),
    )


@register(
    "q_dedup_fuzzy",
    oracle="""
    SELECT a.c_custkey AS cust_a, b.c_custkey AS cust_b,
           a.c_name AS name_a, b.c_name AS name_b,
           CAST(levenshtein(a.c_name, b.c_name) AS INT) AS edit_dist
    FROM customer a JOIN customer b
      ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= 1
    """,
    tags=("llm", "dedup"),
)
def q_dedup_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity dedup: near-identical names (edit distance ≤ 1)
    within nation blocks. Levenshtein is identical in both engines;
    the block key bounds the pair space exactly as in q_dedup_embed —
    the universal shape of record linkage at scale."""
    c = load_table(spark, sf_dir, "customer")
    # FastSS deletion-neighborhood blocking (Bocek et al. 2007),
    # replacing the within-nation quadratic pair stream: two names
    # are within edit distance 1 iff they share an element of
    # V(x) = {x} ∪ {x with one char deleted} — a==b share x itself;
    # a substitution at i means del(a,i)==del(b,i); an indel means
    # the longer's deletion equals the shorter. Sharing a variant
    # only bounds the distance by 2 (del at different positions), so
    # candidates are verified with a bounded levenshtein — the 3-arg
    # form (the operators.fuzzy convention) bails out of the DP past
    # the bound and returns -1, so kept distances equal the 2-arg
    # values the oracle computes. Measured at sf0.1: 4.5M brute
    # pairs → 39k candidates (max bucket 8), 14.8 s → sub-second
    # (round 16). At 100 TB the variant fan-out is
    # ×(len+1) on the NAME TABLE (a dimension), while the old plan
    # grew quadratically per nation block.
    # keys only through the exchanges (guide §2.3 — shuffle metadata,
    # not payloads): the variant explode and the candidate dedupe
    # carry just (nation, variant, custkey); names re-attach to the
    # ~39k candidate ids afterwards via two broadcast joins against
    # the name table, so the big ×(len+1) fan-out exchange drops the
    # ~25-byte name payload entirely and the candidate `distinct` is
    # over 2 longs (VERDICT r16 #6). The deletion-variant transform is
    # guarded for empty names (ADVICE r16 #4): sequence(1, 0) yields a
    # DESCENDING [1, 0] — the unguarded form silently leaned on
    # substr's negative-length behavior; TPC-H names are never empty,
    # so the guard changes nothing on fixture data.
    variants = F.when(
        F.length("c_name") > 0,
        F.array_distinct(
            F.concat(
                F.array(F.col("c_name")),
                F.transform(
                    F.sequence(F.lit(1), F.length("c_name")),
                    lambda i: F.concat(
                        F.col("c_name").substr(F.lit(1), i - 1),
                        F.col("c_name").substr(i + 1, F.length("c_name")),
                    ),
                ),
            )
        ),
    ).otherwise(F.array(F.col("c_name")))
    v = c.select(
        "c_nationkey",
        F.col("c_custkey").alias("cust"),
        F.explode(variants).alias("v"),
    )
    # one exchange on the (nation, variant) bucket key; singleton
    # buckets — the overwhelming majority — die at the aggregate, and
    # pairs are emitted array-side i<j (cust asc) like the LSH family
    buckets = (
        v.groupBy("c_nationkey", "v")
        .agg(F.array_sort(F.collect_list("cust")).alias("ds"))
        .filter(F.size("ds") >= 2)
    )
    pairs = buckets.select(F.posexplode("ds").alias("i", "cust_a"), "ds").select(
        "cust_a",
        F.explode(F.expr("slice(ds, i + 2, size(ds) - i - 1)")).alias("cust_b"),
    )
    # a pair can share several variants — dedupe on the two id longs
    cand = pairs.distinct()
    # no broadcast hint: the planner auto-broadcasts the name table at
    # bench scale (well under the threshold) and keeps the shuffle-join
    # fallback open when the dimension outgrows a broadcast at 100 TB
    na = c.select(F.col("c_custkey").alias("cust_a"), F.col("c_name").alias("name_a"))
    nb = c.select(F.col("c_custkey").alias("cust_b"), F.col("c_name").alias("name_b"))
    return (
        cand.join(na, "cust_a")
        .join(nb, "cust_b")
        .withColumn("edit_dist", F.levenshtein("name_a", "name_b", 1))
        .filter(F.col("edit_dist") >= 0)
        .select("cust_a", "cust_b", "name_a", "name_b", "edit_dist")
    )


@register(
    "q_subquery_exists",
    oracle="""
    SELECT c.c_custkey, c.c_name, c.c_acctbal
    FROM customer c
    WHERE EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
      AND NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
    """,
    tags=("ext", "subquery"),
)
def q_subquery_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS / NOT EXISTS: customers with at least one
    open order and no finished ones. Declared through the SQL path
    (spark.sql over DataFrame arguments) so Catalyst's subquery
    decorrelation is what's on trial: both subqueries rewrite to one
    left-semi and one left-anti hash join on o_custkey — no per-row
    re-execution, the classic correlated-subquery trap the
    reference's backing RDBMSs handle with the same rewrite."""
    return spark.sql(
        """
        SELECT c.c_custkey, c.c_name, c.c_acctbal
        FROM {customer} c
        WHERE EXISTS (
          SELECT 1 FROM {orders} o
          WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
          AND NOT EXISTS (
          SELECT 1 FROM {orders} o
          WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
        """,
        customer=load_table(spark, sf_dir, "customer"),
        orders=load_table(spark, sf_dir, "orders"),
    )


@register(
    "q_lateral_topn",
    oracle="""
    SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
    FROM customer c,
    LATERAL (
      SELECT o_orderkey, o_totalprice
      FROM orders o
      WHERE o.o_custkey = c.c_custkey
      ORDER BY o_totalprice DESC, o_orderkey
      LIMIT 2) t
    """,
    tags=("ext", "subquery", "topk"),
)
def q_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery: each customer's top-2 orders by
    value. Spark executes the LATERAL join via decorrelation into a
    ranked window over the join — logically per-row subquery, 
    physically one shuffle — the same plan the window formulation
    would produce, but exercising the SQL feature surface users
    migrate with."""
    return spark.sql(
        """
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM {customer} c,
        LATERAL (
          SELECT o_orderkey, o_totalprice
          FROM {orders} o
          WHERE o.o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey
          LIMIT 2) t
        """,
        customer=load_table(spark, sf_dir, "customer"),
        orders=load_table(spark, sf_dir, "orders"),
    )


@register(
    "q_upsert_merge",
    oracle="""
    WITH changes AS (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             CAST(o_totalprice * 1.1 AS DOUBLE) AS o_totalprice,
             o_orderdate, o_orderpriority, 'U' AS op
      FROM orders WHERE o_orderkey % 7 = 0
      UNION ALL
      SELECT o_orderkey + (SELECT MAX(o_orderkey) FROM orders),
             o_custkey, o_orderstatus, o_totalprice, o_orderdate,
             o_orderpriority, 'I' AS op
      FROM orders WHERE o_orderkey % 13 = 0)
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           o_orderdate, o_orderpriority
    FROM changes
    UNION ALL
    SELECT b.o_orderkey, b.o_custkey, b.o_orderstatus, b.o_totalprice,
           b.o_orderdate, b.o_orderpriority
    FROM orders b
    WHERE b.o_orderkey NOT IN (SELECT o_orderkey FROM changes)
    """,
    tags=("ext", "cdc", "merge"),
)
def q_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics (SCD1 upsert snapshot) on plain Spark —
    the apply step that pairs with q_scd2_intervals' history build: a
    deterministic change feed (every 7th order updated with a 10%
    price bump, every 13th re-keyed past the max key as an insert)
    merges into the base so changed keys take the new row, new keys
    append, untouched keys pass through. The plan is ONE left_anti
    hash join on the key plus a union — exactly what a table-format
    MERGE compiles to when the change feed is not broadcastable; at
    100 TB both sides shuffle on o_orderkey and AQE picks the join
    strategy. The driver-side max-key scalar the oracle computes in a
    subquery comes from a 1-row aggregate cross-joined (broadcast),
    not a collect."""
    o = load_table(spark, sf_dir, "orders")
    cols = [
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority",
    ]
    maxk = o.agg(F.max("o_orderkey").alias("max_k"))
    updates = (
        o.filter(F.col("o_orderkey") % 7 == 0)
        .withColumn("o_totalprice", (F.col("o_totalprice") * 1.1).cast("double"))
        .select(*cols)
    )
    inserts = (
        o.filter(F.col("o_orderkey") % 13 == 0)
        .crossJoin(F.broadcast(maxk))
        .withColumn("o_orderkey", F.col("o_orderkey") + F.col("max_k"))
        .select(*cols)
    )
    changes = updates.unionByName(inserts)
    untouched = o.select(*cols).join(
        changes.select("o_orderkey"), "o_orderkey", "left_anti"
    )
    return changes.unionByName(untouched)


@register(
    "q_pivot_dynamic",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) FILTER (event_type = 'click')    AS BIGINT) AS n_click,
           CAST(COUNT(*) FILTER (event_type = 'error')    AS BIGINT) AS n_error,
           CAST(COUNT(*) FILTER (event_type = 'purchase') AS BIGINT) AS n_purchase,
           CAST(COUNT(*) FILTER (event_type = 'signup')   AS BIGINT) AS n_signup,
           CAST(COUNT(*) FILTER (event_type = 'view')     AS BIGINT) AS n_view
    FROM (SELECT e.event_type, d.lang
          FROM events e JOIN documents d ON d.doc_id = e.user_id)
    GROUP BY lang
    """,
    tags=("ext", "pivot"),
)
def q_pivot_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC pivot — the real-world variant q_pivot's docstring
    warns about: the pivot domain is NOT known at query-authoring
    time, so the engine discovers it first (one distinct scan of the
    pivot column — bounded by the domain, not the data: it is the
    number of columns the result can carry), sorts it for a
    deterministic column order, and passes the explicit list to
    pivot() — turning the unknown-domain case into the known-domain
    plan with one extra cheap aggregate. The oracle enumerates the
    fixture's five event types statically: the discovery must
    converge to exactly that schema or the column-name hash fails —
    schema discovery itself is under the correctness gate.

    Scale: the distinct scan partial-aggregates map-side to ≤|domain|
    rows per task; the collected list is driver-bounded by the same
    |domain| ≤ a few thousand that any pivot result must satisfy
    anyway (wider than that and you want q_unpivot's long form)."""
    ev = load_table(spark, sf_dir, "events")
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    joined = ev.join(d, ev["user_id"] == d["doc_id"]).select("event_type", "lang")
    # discovery: the pivot domain, sorted for deterministic columns
    domain = [
        r.event_type
        for r in joined.select("event_type").distinct().orderBy("event_type").collect()
    ]
    p = joined.groupBy("lang").pivot("event_type", domain).agg(
        F.count(F.lit(1))
    )
    # empty (group, value) cells surface as NULL from pivot+count;
    # the oracle's COUNT(*) FILTER yields 0 — coalesce to match
    return p.select(
        "lang",
        *[F.coalesce(F.col(v), F.lit(0)).alias(f"n_{v}") for v in domain],
    )


@register(
    "q_recursive_hierarchy",
    oracle="""
    WITH RECURSIVE walk(custkey, node, depth) AS (
      SELECT c_custkey, c_custkey, 0 FROM customer
      UNION ALL
      SELECT custkey, node // 10, depth + 1 FROM walk WHERE node >= 10),
    resolved AS (
      SELECT w.custkey,
             MAX(w.depth) AS depth,
             MIN(CASE WHEN w.node < 10 THEN w.node END) AS root
      FROM walk w GROUP BY w.custkey)
    SELECT r.depth, r.root,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(22,6))) AS DOUBLE)
             AS sum_acctbal
    FROM resolved r JOIN customer c ON c.c_custkey = r.custkey
    GROUP BY r.depth, r.root
    """,
    tags=("ext", "subquery", "iterative"),
)
def q_recursive_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RECURSIVE CTE hierarchy traversal — Spark 4's WITH RECURSIVE,
    exercised on a synthesized containment hierarchy (parent(k) =
    k div 10: every customer chains up to a single-digit root, depth
    = digits - 1). Each customer walks to its root; the report
    aggregates population and exact decimal balance per (depth,
    root) — the org-chart / bill-of-materials rollup shape that
    previously required iterative DataFrame loops (q_pagerank,
    q_dedup_cluster) now expressed declaratively, and DuckDB replays
    the identical recursion.

    Scale: each recursion step is one self-referential union over
    the frontier — rows leave the frontier as they hit their root,
    so total work is Σ depth(k) ≈ n·log₁₀(maxkey); the engine
    checkpoints each step like the hand-built iterative operators.
    Unbounded-depth graphs still belong on the label-propagation
    path (q_dedup_cluster) where convergence is data-dependent."""
    return spark.sql(
        """
      WITH RECURSIVE walk(custkey, node, depth) AS (
        SELECT c_custkey, c_custkey, 0 FROM {c}
        UNION ALL
        SELECT custkey, div(node, 10), depth + 1 FROM walk WHERE node >= 10),
      resolved AS (
        SELECT w.custkey,
               MAX(w.depth) AS depth,
               MIN(CASE WHEN w.node < 10 THEN w.node END) AS root
        FROM walk w GROUP BY w.custkey)
      SELECT r.depth, r.root,
             COUNT(*) AS n_customers,
             CAST(SUM(CAST(c.c_acctbal AS DECIMAL(22,6))) AS DOUBLE)
               AS sum_acctbal
      FROM resolved r JOIN {c} c ON c.c_custkey = r.custkey
      GROUP BY r.depth, r.root
    """,
        c=load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal"),
    )
