"""Time-series resampling / gap-fill and data-quality operators:
hourly resample, LOCF fill, z-score outliers, winsorization, column
profiling, per-group mode, market-basket pair counting.

The reference gateway exposes none of these (its catalog is point
lookups and paged lists — SURVEY.md §2.4); they are north-star
extensions covering the maintenance/QA query shapes a warehouse crew
runs daily. All seven carry exact DuckDB oracles using the
repo-standard parity rules (decimal-moment sums, identical double
arithmetic derived from exact integer/decimal components, row_number
instead of LIMIT for deterministic top-k).

Scale notes (per operator, 100 TB):
- resample/LOCF: one shuffle on the (bucket|day, type) key with
  map-side partial aggregation; the spine side is O(days × types)
  and broadcast.
- z-score: per-type moments are a tiny broadcast joined back into a
  streaming scan of the event log — the big table never shuffles.
- winsorize: exact per-group percentiles for the oracle; the 100 TB
  path swaps in percentile_approx (mergeable sketch) with the same
  clip expression.
- profile: one full scan, all per-column aggregates computed in a
  single partial-aggregated pass, then a constant-size unpivot.
- mode / basket pairs: one shuffle on the group key; basket pairs
  self-join is co-partitioned on l_orderkey (no extra exchange on
  the probe side beyond the first) and per-order fanout is bounded
  by the small per-order line count, so the pair explosion is
  linear in input, not quadratic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from data_wrangler_spark.catalog import load_table, read_parquet
from data_wrangler_spark.functions.distributed import pin
from data_wrangler_spark.operators.aggregates import _osum, dsum
from data_wrangler_spark.registry import register
from data_wrangler_spark.scratch import ROOT, materialize, scratch_tag

Z_THRESHOLD = 2.0
BASKET_TOP_N = 100


@register(
    "q_resample",
    oracle=f"""
    SELECT date_trunc('hour', ts) AS bucket,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {_osum('value')} AS sum_value,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    GROUP BY 1, 2
    """,
    tags=("ext", "timeseries"),
)
def q_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downsample the event stream to hourly buckets per event type —
    the hypertable-rollup / `time_bucket` shape. A single hash
    aggregation on (bucket, type): partial map-side combine collapses
    each input partition to at most |hours|x|types| rows before the
    shuffle, so network volume is bounded by the bucket grid, not the
    event count."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", "ts").alias("bucket"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            dsum("value").alias("sum_value"),
            F.count_distinct("user_id").alias("n_users"),
        )
    )


@register(
    "q_fill_locf",
    oracle="""
    WITH bounds AS (
      SELECT CAST(date_trunc('day', min(ts)) AS DATE) AS d0,
             CAST(date_trunc('day', max(ts)) AS DATE) AS d1
      FROM events),
    spine AS (
      SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
      FROM bounds),
    types AS (SELECT DISTINCT event_type FROM events),
    grid AS (SELECT s.day, t.event_type FROM spine s CROSS JOIN types t),
    daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1, 2)
    SELECT g.day, g.event_type,
           d.n_events AS n_raw,
           LAST_VALUE(d.n_events IGNORE NULLS) OVER (
             PARTITION BY g.event_type ORDER BY g.day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_filled
    FROM grid g LEFT JOIN daily d ON g.day = d.day AND g.event_type = d.event_type
    """,
    tags=("ext", "timeseries"),
)
def q_fill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled daily series with last-observation-carried-forward:
    a (day x event_type) grid left-joined to daily counts, holes
    filled by `last(..., ignorenulls=True)` over the per-type day
    order. The grid is generated from the data's own bounds (no
    collect) and is tiny at any scale, so it broadcasts; the window
    partitions by event_type — a handful of bounded, independent
    partitions — so the fill itself never concentrates on one
    executor beyond the grid size."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min(F.date_trunc("day", "ts").cast("date")).alias("d0"),
        F.max(F.date_trunc("day", "ts").cast("date")).alias("d1"),
    )
    spine = bounds.select(F.explode(F.sequence("d0", "d1")).alias("day"))
    types = ev.select("event_type").distinct()
    grid = spine.crossJoin(types)
    daily = ev.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day"),
        "event_type",
    ).agg(F.count("*").alias("n_events"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(daily, ["day", "event_type"], "left")
        .select(
            "day",
            "event_type",
            F.col("n_events").alias("n_raw"),
            F.last("n_events", ignorenulls=True).over(w).alias("n_filled"),
        )
    )


@register(
    "q_zscore",
    oracle=f"""
    WITH stats AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             {_osum('value')} AS s1,
             CAST(SUM(CAST(CAST(value AS DECIMAL(22,6)) * CAST(value AS DECIMAL(22,6)) AS DECIMAL(38,6))) AS DOUBLE) AS s2
      FROM events GROUP BY 1)
    SELECT e.event_id, e.event_type, e.value,
           (e.value - st.s1 / st.n)
             / sqrt((st.s2 - st.s1 * st.s1 / st.n) / (st.n - 1)) AS z
    FROM events e JOIN stats st USING (event_type)
    WHERE abs((e.value - st.s1 / st.n)
             / sqrt((st.s2 - st.s1 * st.s1 / st.n) / (st.n - 1))) > {Z_THRESHOLD}
    """,
    tags=("ext", "quality"),
)
def q_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type z-score outlier flagging. Moments (n, Σx, Σx²) are
    computed exactly in decimal per event_type, then mean/stddev and
    each row's z are derived in identical IEEE double arithmetic on
    both engines — so even the filter boundary |z| > 2 agrees bit-for
    bit. The stats side is O(|types|) and broadcast back into a
    single streaming pass over the event log: the big side is scanned
    once and never shuffled."""
    ev = load_table(spark, sf_dir, "events")
    v = F.col("value").cast("decimal(22,6)")
    stats = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(v).cast("double").alias("s1"),
        F.sum(v * v).cast("double").alias("s2"),
    )
    mean = F.col("s1") / F.col("n")
    std = F.sqrt((F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) / (F.col("n") - 1))
    z = (F.col("value") - mean) / std
    return (
        ev.join(F.broadcast(stats), "event_type")
        .select("event_id", "event_type", "value", z.alias("z"))
        .filter(F.abs(F.col("z")) > Z_THRESHOLD)
    )


@register(
    "q_winsorize",
    oracle=f"""
    WITH q AS (
      SELECT l_returnflag,
             quantile_cont(l_extendedprice, 0.05) AS p05,
             quantile_cont(l_extendedprice, 0.95) AS p95
      FROM lineitem GROUP BY 1)
    SELECT l.l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN l.l_extendedprice < q.p05 THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_low,
           CAST(SUM(CASE WHEN l.l_extendedprice > q.p95 THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_high,
           {_osum('LEAST(GREATEST(l.l_extendedprice, q.p05), q.p95)')} AS sum_winsorized,
           {_osum('l.l_extendedprice')} AS sum_raw
    FROM lineitem l JOIN q USING (l_returnflag)
    GROUP BY 1
    """,
    tags=("ext", "quality"),
)
def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized totals: clip each value into its group's
    [p05, p95] band and aggregate clipped vs raw. Exact percentiles
    (identical interpolation both engines) feed a broadcast join back
    over the fact scan; the clip is a pure expression, so the whole
    thing is scan → broadcast-join → one hash aggregate. The 100 TB
    swap is percentile_approx for the quantile side — the clip and
    aggregate stages are unchanged."""
    li = load_table(spark, sf_dir, "lineitem")
    # both band edges from ONE percentile buffer (array of
    # percentages) instead of two independent sort-agg buffers each
    # holding every group value — same interpolation, bit-identical
    q = (
        li.groupBy("l_returnflag")
        .agg(
            F.percentile(
                "l_extendedprice", F.array(F.lit(0.05), F.lit(0.95))
            ).alias("_pq")
        )
        .select(
            "l_returnflag",
            F.col("_pq")[0].alias("p05"),
            F.col("_pq")[1].alias("p95"),
        )
    )
    clipped = F.least(F.greatest(F.col("l_extendedprice"), F.col("p05")), F.col("p95"))
    return (
        li.join(F.broadcast(q), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("l_extendedprice") < F.col("p05"), 1).otherwise(0)).alias("n_clip_low"),
            F.sum(F.when(F.col("l_extendedprice") > F.col("p95"), 1).otherwise(0)).alias("n_clip_high"),
            dsum(clipped).alias("sum_winsorized"),
            dsum("l_extendedprice").alias("sum_raw"),
        )
    )


@register(
    "q_profile_table",
    oracle="""
    SELECT 'o_orderkey' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) - COUNT(o_orderkey) AS BIGINT) AS n_null,
           CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct
    FROM orders
    UNION ALL
    SELECT 'o_custkey', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) - COUNT(o_custkey) AS BIGINT),
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) - COUNT(o_orderstatus) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) - COUNT(o_totalprice) AS BIGINT),
           CAST(COUNT(DISTINCT o_totalprice) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) - COUNT(o_orderpriority) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT)
    FROM orders
    """,
    tags=("ext", "quality"),
)
def q_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling (null counts + distinct cardinality per
    column) in ONE scan: all per-column aggregates run in a single
    partial-aggregated pass, then a constant-size stack/unpivot
    reshapes the 1-row wide result into (col_name, stats) rows. The
    oracle's 5-scan UNION ALL states the semantics; the engine plan
    reads the table once. At 100 TB swap COUNT DISTINCT for
    approx_count_distinct — same shape, sketch-mergeable."""
    o = load_table(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"]
    aggs = [F.count("*").alias("n_rows")]
    for c in cols:
        aggs.append((F.count("*") - F.count(c)).alias(f"null__{c}"))
        aggs.append(F.count_distinct(c).alias(f"dist__{c}"))
    wide = o.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', null__{c}, dist__{c}" for c in cols
    )
    return wide.selectExpr(
        f"stack({len(cols)}, {stack_args}) AS (col_name, n_null, n_distinct)",
        "n_rows",
    ).select("col_name", "n_rows", "n_null", "n_distinct")


@register(
    "q_agg_mode",
    oracle="""
    WITH counted AS (
      SELECT o_orderstatus, o_orderpriority,
             CAST(COUNT(*) AS BIGINT) AS n,
             ROW_NUMBER() OVER (
               PARTITION BY o_orderstatus
               ORDER BY COUNT(*) DESC, o_orderpriority) AS rk
      FROM orders GROUP BY 1, 2)
    SELECT o_orderstatus, o_orderpriority AS mode_priority, n
    FROM counted WHERE rk = 1
    """,
    tags=("ext", "agg"),
)
def q_agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group mode: count (group, value) pairs, then
    row_number ordered by (count DESC, value ASC) — the explicit
    tiebreak is what makes the answer engine-independent (built-in
    `mode()` breaks ties arbitrarily in both engines). Two shuffles,
    both on keys whose cardinality is the *value domain*, not the row
    count, so the second is negligible at scale."""
    o = load_table(spark, sf_dir, "orders")
    counted = o.groupBy("o_orderstatus", "o_orderpriority").agg(F.count("*").alias("n"))
    w = Window.partitionBy("o_orderstatus").orderBy(F.col("n").desc(), F.col("o_orderpriority"))
    return (
        counted.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("o_orderstatus", F.col("o_orderpriority").alias("mode_priority"), "n")
    )


@register(
    "q_basket_pairs",
    oracle=f"""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2),
    ranked AS (
      SELECT part_a, part_b, n_orders,
             ROW_NUMBER() OVER (ORDER BY n_orders DESC, part_a, part_b) AS rk
      FROM pairs)
    SELECT part_a, part_b, n_orders FROM ranked WHERE rk <= {BASKET_TOP_N}
    """,
    tags=("ext", "behavioral"),
)
def q_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: top part pairs appearing in the
    same order. Distinct (order, part) first — that bounds fanout by
    the per-order item count (small constant in order data), so the
    self-join is linear, not quadratic, and both join sides hash on
    l_orderkey (one co-located exchange). Deterministic top-N via
    orderBy+limit with a full tiebreak — plans as
    TakeOrderedAndProject (per-task heaps + a driver merge of N
    rows), so no single-partition sort of the pair aggregates even at
    100 TB; if the pair domain itself explodes, cut it first with a
    support floor (HAVING n >= s) — the classic a-priori step."""
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    a = items.alias("a")
    b = items.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count("*").alias("n_orders"))
    )
    return (
        pairs.orderBy(F.col("n_orders").desc(), "part_a", "part_b")
        .limit(BASKET_TOP_N)
        .select("part_a", "part_b", "n_orders")
    )


RULE_MIN_SUPPORT = 3  # a-priori support floor (orders containing the pair)


@register(
    "q_assoc_rules",
    oracle=f"""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_tx FROM items),
    supp AS (
      SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS s
      FROM items GROUP BY 1),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             CAST(COUNT(*) AS BIGINT) AS n_ab
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING COUNT(*) >= {RULE_MIN_SUPPORT}),
    rules AS (
      SELECT part_a AS antecedent, part_b AS consequent, n_ab FROM pairs
      UNION ALL
      SELECT part_b AS antecedent, part_a AS consequent, n_ab FROM pairs),
    scored AS (
      SELECT r.antecedent, r.consequent, r.n_ab,
             sa.s AS supp_ante,
             CAST(floor(CAST(r.n_ab AS DOUBLE) * 1000000 / sa.s) AS BIGINT)
               AS conf_micro,
             CAST(floor(CAST(r.n_ab * n.n_tx AS DOUBLE) * 1000000
                        / (sa.s * sc.s)) AS BIGINT) AS lift_micro
      FROM rules r
      JOIN supp sa ON sa.l_partkey = r.antecedent
      JOIN supp sc ON sc.l_partkey = r.consequent
      CROSS JOIN n),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        ORDER BY lift_micro DESC, antecedent, consequent) AS rk
      FROM scored)
    SELECT antecedent, consequent, n_ab, supp_ante, conf_micro, lift_micro
    FROM ranked WHERE rk <= {BASKET_TOP_N}
    """,
    tags=("ext", "behavioral"),
)
def q_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules (A → B) from order baskets: support-floored
    pair counts fan into both directions, then confidence
    (n_ab / supp(A)) and lift (n_ab·N / (supp(A)·supp(B))) in exact
    integer micro-units — every operand is a 64-bit count whose
    products stay under 2^53, so the floored double division is
    bit-identical cross-engine, no float comparison anywhere. Scale:
    the a-priori support floor (HAVING) cuts the pair table BEFORE
    the direction fan-out and scoring joins; supports are
    value-domain-sized → broadcast; the top-N plans as
    TakeOrderedAndProject. The pair self-join hashes on l_orderkey,
    bounded by per-order basket width like q_basket_pairs."""
    li = load_table(spark, sf_dir, "lineitem")
    items = pin(li.select("l_orderkey", "l_partkey").distinct().persist())
    n_tx = items.select(F.countDistinct("l_orderkey").alias("n_tx"))
    supp = items.groupBy("l_partkey").agg(F.count("*").alias("s"))
    a = items.alias("a")
    b = items.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= RULE_MIN_SUPPORT)
    )
    rules = pairs.select(
        F.col("part_a").alias("antecedent"),
        F.col("part_b").alias("consequent"),
        "n_ab",
    ).unionAll(
        pairs.select(
            F.col("part_b").alias("antecedent"),
            F.col("part_a").alias("consequent"),
            "n_ab",
        )
    )
    sa = supp.select(F.col("l_partkey").alias("antecedent"), F.col("s").alias("supp_ante"))
    sc = supp.select(F.col("l_partkey").alias("consequent"), F.col("s").alias("supp_cons"))
    scored = (
        rules.join(F.broadcast(sa), "antecedent")
        .join(F.broadcast(sc), "consequent")
        .crossJoin(F.broadcast(n_tx))
        .select(
            "antecedent",
            "consequent",
            "n_ab",
            "supp_ante",
            F.floor(F.col("n_ab").cast("double") * 1_000_000 / F.col("supp_ante"))
            .cast("long")
            .alias("conf_micro"),
            F.floor(
                (F.col("n_ab") * F.col("n_tx")).cast("double")
                * 1_000_000
                / (F.col("supp_ante") * F.col("supp_cons"))
            )
            .cast("long")
            .alias("lift_micro"),
        )
    )
    return scored.orderBy(
        F.col("lift_micro").desc(), "antecedent", "consequent"
    ).limit(BASKET_TOP_N)


@register(
    "q_chi2_independence",
    oracle="""
    WITH cells AS (
      SELECT event_type, CAST(dayofweek(ts) + 1 AS INT) AS dow,
             CAST(COUNT(*) AS BIGINT) AS o
      FROM events GROUP BY 1, 2),
    expected AS (
      SELECT event_type, dow, o,
             CAST(SUM(o) OVER (PARTITION BY event_type) * SUM(o) OVER (PARTITION BY dow) AS DOUBLE)
               / SUM(o) OVER () AS e
      FROM cells)
    SELECT CAST(SUM(CAST((CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e) / e AS DECIMAL(22,6))) AS DOUBLE) AS chi2,
           CAST((COUNT(DISTINCT event_type) - 1) * (COUNT(DISTINCT dow) - 1) AS BIGINT) AS dof,
           CAST(SUM(o) AS BIGINT) AS n
    FROM expected
    """,
    tags=("ext", "quality", "stats"),
)
def q_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between event_type and
    day-of-week. Observed counts are exact integers; expected counts
    and per-cell terms are derived in identical double arithmetic on
    both engines; the final reduction quantizes each term to
    DECIMAL(22,6) so the sum over cells is order-independent (a
    double Σ over cells would differ by ULPs between engines). The
    contingency table is |types|x7 rows — everything after the one
    groupBy shuffle is effectively free, and the groupBy itself
    map-side combines down to the grid size per partition."""
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type", F.dayofweek("ts").alias("dow")
    ).agg(F.count("*").alias("o"))
    w_t = Window.partitionBy("event_type")
    w_d = Window.partitionBy("dow")
    w_all = Window.partitionBy()
    e = (F.sum("o").over(w_t) * F.sum("o").over(w_d)).cast("double") / F.sum("o").over(w_all)
    od = F.col("o").cast("double")
    term = ((od - e) * (od - e) / e).cast("decimal(22,6)")
    expected = cells.select("event_type", "dow", "o", term.alias("term"))
    return expected.agg(
        F.sum("term").cast("double").alias("chi2"),
        ((F.count_distinct("event_type") - 1) * (F.count_distinct("dow") - 1)).alias("dof"),
        F.sum("o").alias("n"),
    )


ZORDER_BITS = 8
ZORDER_FILES = 32


def _z_interleave(x, y):
    """16-bit Morton code from two 8-bit bucket ids — pure integer
    arithmetic so both engines compute it identically."""
    z = F.lit(0)
    for b in range(ZORDER_BITS):
        z = (
            z
            + F.shiftleft(F.shiftright(x, b).bitwiseAND(F.lit(1)), 2 * b)
            + F.shiftleft(F.shiftright(y, b).bitwiseAND(F.lit(1)), 2 * b + 1)
        )
    return z


def _sql_z_interleave(x: str, y: str) -> str:
    terms = []
    for b in range(ZORDER_BITS):
        terms.append(f"((({x} >> {b}) & 1) << {2 * b})")
        terms.append(f"((({y} >> {b}) & 1) << {2 * b + 1})")
    return " + ".join(terms)


@register(
    "q_zorder_layout",
    oracle=f"""
    WITH coded AS (
      SELECT o_orderkey,
             CAST(o_custkey % 256 AS BIGINT) AS xdim,
             CAST(datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) % 256 AS BIGINT) AS ydim
      FROM orders),
    z AS (
      SELECT o_orderkey, xdim, ydim,
             CAST({_sql_z_interleave('xdim', 'ydim')} AS BIGINT) AS zval
      FROM coded),
    filed AS (
      SELECT *, CAST(NTILE({ZORDER_FILES}) OVER (ORDER BY zval, o_orderkey) AS INT) AS file_id
      FROM z)
    SELECT file_id,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(xdim) AS x_min, MAX(xdim) AS x_max,
           MIN(ydim) AS y_min, MAX(ydim) AS y_max,
           MIN(zval) AS z_min, MAX(zval) AS z_max
    FROM filed
    GROUP BY 1
    """,
    tags=("ext", "layout"),
)
def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-code) clustering audit: bucket two query
    dimensions (customer, order day), interleave their bits into a
    Morton code, split the sorted code range into target files, and
    report each file's per-dimension min/max envelope. Those
    envelopes ARE the data-skipping story — parquet row-group stats
    on a Z-ordered layout stay narrow in BOTH dimensions, so filters
    on either column prune most files (a single-column sort gives
    narrow stats in one dimension and useless ones in the other).
    The Morton code is plain integer bit-math (identical in both
    engines); file assignment is a deterministic NTILE over the code
    order, computed TWO-PHASE (range partition on zval + broadcast
    offsets + positional bucket arithmetic, functions/distributed.py)
    — the very repartitionByRange(zval) a real layout job writes
    with, so no one-task sort, and no job before the plan runs. At 100 TB this query IS the layout
    job's planning step: the same envelopes materialize as row-group
    statistics."""
    o = load_table(spark, sf_dir, "orders")
    coded = o.select(
        "o_orderkey",
        (F.col("o_custkey") % 256).cast("bigint").alias("xdim"),
        (F.datediff("o_orderdate", F.lit("1992-01-01").cast("date")) % 256)
        .cast("bigint")
        .alias("ydim"),
    )
    z = coded.withColumn(
        "zval", _z_interleave(F.col("xdim"), F.col("ydim")).cast("bigint")
    )
    from data_wrangler_spark.functions.distributed import (
        ntile_from_position,
        with_global_position,
    )

    pos, n = with_global_position(z, [F.col("zval"), F.col("o_orderkey")])
    filed = pos.withColumn(
        "file_id", ntile_from_position(F.col("_pos"), n, ZORDER_FILES)
    )
    return filed.groupBy("file_id").agg(
        F.count("*").alias("n_rows"),
        F.min("xdim").alias("x_min"),
        F.max("xdim").alias("x_max"),
        F.min("ydim").alias("y_min"),
        F.max("ydim").alias("y_max"),
        F.min("zval").alias("z_min"),
        F.max("zval").alias("z_max"),
    )


_ROLLUP_SCRATCH = f"{ROOT}/rollup"


def hourly_partials(df: DataFrame) -> DataFrame:
    """Hourly mergeable partials of the events stream/table: (hour
    bucket, day, type) → count + exact decimal sum. The ONE
    definition shared by the serve/incremental batch rollups and the
    streaming merge (streaming/windows.q_stream_rollup) — partial
    state must aggregate identically everywhere or merge ≡ rebuild
    proofs stop meaning anything."""
    return df.groupBy(
        F.date_trunc("hour", "ts").alias("bucket"),
        F.date_trunc("day", "ts").cast("date").alias("day"),
        "event_type",
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(22,6)")).alias("sum_dec"),
    )


@register(
    "q_rollup_serve",
    oracle=f"""
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {_osum('value')} AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    tags=("ext", "timeseries", "layout"),
)
def q_rollup_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate serving: the DAILY report is answered
    from a persisted HOURLY rollup (built once per sf into scratch,
    partitioned by day), never from raw events. This is the
    hypertable / materialized-view pattern: hourly partials carry
    (count, exact decimal sum) — both mergeable — so re-aggregating
    them to days is bit-identical to aggregating the raw table (the
    oracle is the raw-table query; passing proves the rollup lost
    nothing). At 100 TB the rollup is refreshed incrementally per
    closed hour (append new partitions, watermark decides closure);
    the serving query reads |hours|x|types| rows instead of the
    event log — queries get ~4 orders of magnitude cheaper and the
    answer is provably identical."""
    path = materialize(
        f"{_ROLLUP_SCRATCH}/{scratch_tag(sf_dir)}",
        lambda p: hourly_partials(load_table(spark, sf_dir, "events"))
        .repartition("day")
        .write.partitionBy("day")
        .parquet(p),
    )
    rollup = read_parquet(spark, path)
    return rollup.groupBy("day", "event_type").agg(
        F.sum("n_events").alias("n_events"),
        F.sum("sum_dec").cast("double").alias("sum_value"),
    )


_COMPACT_SCRATCH = f"{ROOT}/compact"
COMPACT_TARGET_BYTES = 256 * 1024  # test-scale target; 128-512 MiB in prod
COMPACT_FRAGMENT_FILES = 64       # simulated small-file debris


@register(
    "q_compact_files",
    oracle="""
    SELECT lang,
           CAST(count(*) AS BIGINT)                 AS n_docs,
           CAST(sum(n_chars) AS BIGINT)             AS sum_chars,
           CAST(sum(doc_id) AS BIGINT)              AS sum_ids,
           CAST(sum(doc_id * doc_id) AS BIGINT)     AS sum_ids_sq
    FROM documents
    GROUP BY lang
    """,
    tags=("ext", "layout", "maintenance"),
)
def q_compact_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction (the OPTIMIZE / rewrite-data-files
    maintenance op): a fragmented copy of `documents` (64 debris
    files, the streaming-ingest failure mode) is rewritten into
    ceil(bytes/target)-sized files, and the report is computed FROM
    THE COMPACTED FILES while the oracle reads the original table —
    passing proves the rewrite lost and duplicated nothing (count +
    linear + quadratic doc_id checksums per lang).

    Scale: compaction is a pure repartition-write — no shuffle key,
    so Spark plans a round-robin exchange sized by the byte target;
    at 100 TB it runs per-partition (compact only partitions whose
    avg file size is under threshold) and commits atomically via the
    staging-dir rename the parquet committer already does. File-count
    expectations are pinned in tests/test_quality_ts.py."""
    import math as _math
    import os as _os

    def build(base: str) -> None:
        frag = f"{base}/fragmented"
        d = load_table(spark, sf_dir, "documents").select(
            "doc_id", "text", "lang", "source", "n_chars"
        )
        d.repartition(COMPACT_FRAGMENT_FILES).write.parquet(frag)
        frag_bytes = sum(
            e.stat().st_size
            for e in _os.scandir(frag)
            if e.name.endswith(".parquet")
        )
        n_target = max(1, _math.ceil(frag_bytes / COMPACT_TARGET_BYTES))
        spark.read.parquet(frag).repartition(n_target).write.parquet(
            f"{base}/compacted"
        )

    base = materialize(f"{_COMPACT_SCRATCH}/{scratch_tag(sf_dir)}", build)
    c = read_parquet(spark, f"{base}/compacted")
    return c.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum("doc_id").alias("sum_ids"),
        F.sum(F.col("doc_id") * F.col("doc_id")).alias("sum_ids_sq"),
    )


SEASONAL_Z = 2.5  # flag threshold on the seasonal residual z-score


@register(
    "q_seasonal_anomaly",
    oracle=f"""
    WITH prof AS (
      SELECT event_type, CAST(hour(ts) AS INT) AS hod,
             CAST(COUNT(*) AS BIGINT) AS n,
             {_osum('value')} AS s1,
             CAST(SUM(CAST(CAST(value AS DECIMAL(22,6)) * CAST(value AS DECIMAL(22,6)) AS DECIMAL(38,6))) AS DOUBLE) AS s2
      FROM events GROUP BY 1, 2)
    SELECT e.event_id, e.event_type, CAST(hour(e.ts) AS INT) AS hod,
           e.value,
           p.s1 / p.n AS expected,
           (e.value - p.s1 / p.n)
             / sqrt((p.s2 - p.s1 * p.s1 / p.n) / (p.n - 1)) AS z
    FROM events e
    JOIN prof p ON p.event_type = e.event_type
               AND p.hod = CAST(hour(e.ts) AS INT)
    WHERE p.n > 2
      AND abs((e.value - p.s1 / p.n)
              / sqrt((p.s2 - p.s1 * p.s1 / p.n) / (p.n - 1))) > {SEASONAL_Z}
    """,
    tags=("ext", "timeseries", "quality"),
)
def q_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-profile anomaly detection: the expected value of an
    event is its (event_type × hour-of-day) mean — the seasonal-naive
    baseline — and events whose residual z-score against that profile
    exceeds 2.5σ are flagged, with the expectation reported alongside
    (the triage shape: 'value 930 at 3am, expected 210'). Moments are
    exact decimal per cell, so the flag boundary agrees bit-for-bit
    across engines.

    Scale: the profile is |types|×24 cells — a broadcast; the event
    log is scanned once, never shuffled. Refreshing the profile
    incrementally is the same mergeable (n, Σx, Σx²) partial-moment
    rollup q_rollup_serve persists."""
    ev = load_table(spark, sf_dir, "events").withColumn("hod", F.hour("ts"))
    v = F.col("value").cast("decimal(22,6)")
    prof = ev.groupBy("event_type", "hod").agg(
        F.count("*").alias("n"),
        F.sum(v).cast("double").alias("s1"),
        F.sum(v * v).cast("double").alias("s2"),
    )
    mean = F.col("s1") / F.col("n")
    std = F.sqrt(
        (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) / (F.col("n") - 1)
    )
    z = (F.col("value") - mean) / std
    return (
        ev.join(F.broadcast(prof), ["event_type", "hod"])
        .filter(F.col("n") > 2)
        .select(
            "event_id",
            "event_type",
            "hod",
            "value",
            mean.alias("expected"),
            z.alias("z"),
        )
        .filter(F.abs(F.col("z")) > SEASONAL_Z)
    )


EWMA_SCALE = 1_000_000  # value micro-units for the integer fold


@register(
    "q_ewma",
    oracle=f"""
    WITH s AS (
      SELECT user_id,
             list(CAST(floor(value * {EWMA_SCALE}) AS BIGINT)
                  ORDER BY ts, event_id) AS xs
      FROM events GROUP BY user_id)
    SELECT user_id,
           CAST(len(xs) AS BIGINT) AS n_events,
           list_reduce(xs, (s, x) ->
             CAST(floor((9 * s + x) / 10) AS BIGINT)) AS ewma_micro,
           list_reduce(xs, (s, x) ->
             CAST(floor((9 * s + x) / 10) AS BIGINT)) / {EWMA_SCALE}.0
             AS ewma
    FROM s
    """,
    tags=("ext", "timeseries"),
)
def q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average per user (α = 0.1), the
    sequential-stateful smoother windows can't express: each user's
    event values fold in (ts, event_id) order through
    s' = ⌊(9·s + x)/10⌋ in integer micro-units. The fold is a
    JVM-side `aggregate` over the per-user array — one shuffle to
    group, state is one BIGINT regardless of history length — and
    because the arithmetic is integral the result is bit-identical
    to DuckDB's list_reduce replay (floor-of-double-division is safe
    here: operands stay < 2^53 and /10 cannot round across an
    integer boundary).

    Scale: per-user history must fit one array — at 100 TB feed the
    fold from a bounded recent window (the resample rollup bounds
    |events|/user/day), or run it as the streaming stateful op
    (q_stream_stateful) where the same one-number state updates
    incrementally."""
    ev = load_table(spark, sf_dir, "events")
    xs = F.transform(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("ts"),
                    F.col("event_id"),
                    F.floor(F.col("value") * EWMA_SCALE).cast("long").alias("x"),
                )
            )
        ),
        lambda s: s.x,
    )
    grouped = ev.groupBy("user_id").agg(xs.alias("xs"))
    fold = F.aggregate(
        F.slice(F.col("xs"), 2, F.greatest(F.size("xs") - 1, F.lit(0))),
        F.element_at(F.col("xs"), 1),
        lambda s, x: F.floor((F.lit(9) * s + x) / 10).cast("long"),
    )
    return grouped.select(
        "user_id",
        F.size("xs").cast("long").alias("n_events"),
        fold.alias("ewma_micro"),
        (fold / F.lit(float(EWMA_SCALE))).alias("ewma"),
    )


_ROLLUP_INC_SCRATCH = f"{ROOT}/rollup_inc"


@register(
    "q_rollup_incremental",
    oracle=f"""
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {_osum('value')} AS sum_value,
           CAST(COUNT(DISTINCT date_trunc('hour', ts)) AS BIGINT) AS n_hours
    FROM events
    GROUP BY 1, 2
    """,
    tags=("ext", "timeseries", "layout"),
)
def q_rollup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL materialized-view refresh — the maintenance step
    q_rollup_serve's docstring promises. The hourly rollup is built
    in two physically separate jobs: a base build over every day
    BEFORE the newest one, then an incremental refresh that reads
    ONLY the newest day's raw events (the filter prunes at the scan)
    and APPENDS its hourly partials as a new day partition — the raw
    history is never re-read. Serving re-aggregates the combined
    partials to days; the oracle is the full recompute over raw
    events, so a hash match proves append-only refresh ≡ rebuild.

    That equivalence is exactly the mergeability argument: the
    partials carry (count, exact decimal sum), both associative, and
    each hourly bucket lives in exactly one day partition, so the
    increment can never double-count. n_hours (= rollup rows per
    day×type) pins that no partial was written twice.

    Scale: this is the only sane refresh at 100 TB — the nightly job
    costs O(new day), not O(history); partition-granular appends are
    atomic per the parquet committer's staging rename; a late-data
    re-statement overwrites just that day's partition (dynamic
    partition overwrite), and serving still reads |hours|×|types|
    rows, never the event log."""

    def build(p: str) -> None:
        ev = load_table(spark, sf_dir, "events")
        day = F.date_trunc("day", "ts").cast("date")
        # bounded 1-row scalar: the newest day in the fixture
        dmax = ev.agg(F.max(day).alias("d")).collect()[0].d
        # base build, then the newest day as a separate append job
        hourly_partials(ev.filter(day < F.lit(dmax))).repartition(
            "day"
        ).write.partitionBy("day").parquet(p)
        hourly_partials(ev.filter(day == F.lit(dmax))).repartition(
            "day"
        ).write.mode("append").partitionBy("day").parquet(p)

    path = materialize(f"{_ROLLUP_INC_SCRATCH}/{scratch_tag(sf_dir)}", build)
    rollup = read_parquet(spark, path)
    return rollup.groupBy("day", "event_type").agg(
        F.sum("n_events").alias("n_events"),
        F.sum("sum_dec").cast("double").alias("sum_value"),
        F.count("*").cast("long").alias("n_hours"),
    )


ROLL_WINDOW_DAYS = 7  # trailing window for the rolling distinct


@register(
    "q_rolling_distinct",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day, user_id
      FROM events),
    days AS (SELECT DISTINCT day FROM ud)
    SELECT d.day,
           CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS wau
    FROM days d
    JOIN ud u ON u.day BETWEEN d.day - 6 AND d.day
    GROUP BY d.day
    """,
    tags=("ext", "timeseries"),
)
def q_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct users per day (rolling WAU) — the
    windowed aggregate COUNT(DISTINCT) cannot ride a frame for: the
    distinct state is not mergeable across frame slides, so Spark
    (correctly) refuses DISTINCT in window frames. The scalable
    rewrite: reduce raw events to distinct (day, user) pairs first
    (the only corpus-sized aggregation), then EXPAND each pair to the
    ≤7 report days it contributes to (map-side `explode(sequence)` —
    no join), semi-join the observed-day set so trailing days past
    the fixture horizon don't appear, and count distinct users per
    report day. Shuffle volume is bounded by |day×user| × 7 — pairs,
    not events. The oracle states the same window as a BETWEEN join,
    proving the expand rewrite is semantically invisible. At 100 TB
    the pair reduction is the map-side combine; window length only
    scales the small expand factor, and per-day distinct counting on
    a hot day composes with plans/skew.salted_distinct_count."""
    ev = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts").cast("date")
    ud = ev.select(day.alias("day"), "user_id").distinct()
    days = ud.select("day").distinct()
    expanded = ud.select(
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), ROLL_WINDOW_DAYS - 1))
        ).alias("day"),
        "user_id",
    )
    return (
        expanded.join(F.broadcast(days), "day", "left_semi")
        .groupBy("day")
        .agg(F.count_distinct("user_id").alias("wau"))
    )


@register(
    "q_time_weighted_avg",
    oracle="""
    WITH seq AS (
      SELECT user_id, value, ts,
             LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
      FROM events),
    seg AS (
      SELECT user_id,
             CAST(floor(CAST(value AS DOUBLE) * 1000000) AS BIGINT)
               * CAST(date_diff('second', ts, nxt) AS BIGINT) AS wv,
             CAST(date_diff('second', ts, nxt) AS BIGINT)     AS dur
      FROM seq WHERE nxt IS NOT NULL)
    SELECT user_id,
           CAST(SUM(wv) AS BIGINT)  AS num_micro,
           CAST(SUM(dur) AS BIGINT) AS dur_seconds,
           CAST(SUM(wv) AS DOUBLE) / SUM(dur) / 1000000 AS twa
    FROM seg
    GROUP BY user_id
    HAVING SUM(dur) > 0
    """,
    tags=("ext", "timeseries"),
)
def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average per user (the TimescaleDB `time_weight`
    hyperfunction shape): each observation holds its value until the
    next one (LOCF weighting), so the mean weights every reading by
    how long it was current — the honest average for irregularly
    sampled gauges. Arithmetic is exact: values in 10^-6 micro-units
    (floor on the float→double promotion, identical both engines),
    durations in whole seconds, so the weighted numerator is one
    BIGINT sum and the final division is the only float op — both
    engines divide identical integers. Ordering ties on ts break by
    event_id, making LEAD deterministic.

    Scale: one shuffle on user_id for the LEAD window (partition-local
    sort, no global order), then a partial+final aggregation on the
    same key — the second shuffle is removed by exchange reuse since
    the partitioning matches. State per user is O(1)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = load_table(spark, sf_dir, "events")
    seq = ev.select(
        "user_id",
        "value",
        "ts",
        "event_id",
        F.lead("ts").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    dur = (F.unix_timestamp("nxt") - F.unix_timestamp("ts")).cast("long")
    wv = F.floor(F.col("value").cast("double") * 1000000).cast("long") * dur
    seg = seq.select("user_id", wv.alias("wv"), dur.alias("dur"))
    return (
        seg.groupBy("user_id")
        .agg(
            F.sum("wv").alias("num_micro"),
            F.sum("dur").alias("dur_seconds"),
            (F.sum("wv").cast("double") / F.sum("dur") / 1000000).alias("twa"),
        )
        .filter(F.col("dur_seconds") > 0)
    )


@register(
    "q_dq_checks",
    oracle="""
    SELECT 'orders_pk_unique' AS check_name,
           CAST((SELECT COUNT(*) - COUNT(DISTINCT o_orderkey) FROM orders)
                AS BIGINT) AS n_violations
    UNION ALL
    SELECT 'orders_fk_customer',
           CAST((SELECT COUNT(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey))
                AS BIGINT)
    UNION ALL
    SELECT 'lineitem_fk_orders',
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey))
                AS BIGINT)
    UNION ALL
    SELECT 'orders_price_positive',
           CAST((SELECT COUNT(*) FROM orders
                 WHERE o_totalprice IS NULL OR o_totalprice <= 0)
                AS BIGINT)
    UNION ALL
    SELECT 'orders_status_domain',
           CAST((SELECT COUNT(*) FROM orders
                 WHERE o_orderstatus NOT IN ('F', 'O', 'P'))
                AS BIGINT)
    UNION ALL
    SELECT 'lineitem_qty_range',
           CAST((SELECT COUNT(*) FROM lineitem
                 WHERE l_quantity IS NULL
                    OR l_quantity < 1 OR l_quantity > 50)
                AS BIGINT)
    """,
    tags=("ext", "quality", "maintenance"),
)
def q_dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectation suite (the Great-Expectations /
    dbt-test shape): one result row per declared check with its
    violation count — pk uniqueness, two FK-integrity checks
    (anti-join form), non-null/positivity, a categorical domain, and
    a numeric range. The clean fixture should report all zeros; in
    production the suite runs as the acceptance gate after every
    ingest (compose with q_rollup_incremental: check THEN append).

    Scale: each check is the cheapest plan of its kind — uniqueness
    is one count-distinct aggregate (no self-join), FK orphans are
    LEFT-ANTI hash joins (never NOT IN, whose null semantics also
    trip correctness), scans share the session's table cache, and
    every check reduces to one number per check before the union —
    the result is |checks| rows regardless of data size."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    c = load_table(spark, sf_dir, "customer")

    def one(name: str, n) -> DataFrame:
        return n.select(
            F.lit(name).alias("check_name"),
            F.col("n").cast("long").alias("n_violations"),
        )

    pk = o.agg((F.count("*") - F.count_distinct("o_orderkey")).alias("n"))
    fk_cust = (
        o.join(c, o["o_custkey"] == c["c_custkey"], "left_anti")
        .agg(F.count("*").alias("n"))
    )
    fk_ord = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"], "left_anti")
        .agg(F.count("*").alias("n"))
    )
    price = o.filter(
        F.col("o_totalprice").isNull() | (F.col("o_totalprice") <= 0)
    ).agg(F.count("*").alias("n"))
    domain = o.filter(~F.col("o_orderstatus").isin("F", "O", "P")).agg(
        F.count("*").alias("n")
    )
    qty = li.filter(
        F.col("l_quantity").isNull()
        | (F.col("l_quantity") < 1)
        | (F.col("l_quantity") > 50)
    ).agg(F.count("*").alias("n"))

    return (
        one("orders_pk_unique", pk)
        .unionAll(one("orders_fk_customer", fk_cust))
        .unionAll(one("lineitem_fk_orders", fk_ord))
        .unionAll(one("orders_price_positive", price))
        .unionAll(one("orders_status_domain", domain))
        .unionAll(one("lineitem_qty_range", qty))
    )


@register(
    "q_moving_median",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(SUM(CAST(value AS DECIMAL(22,6))) AS DOUBLE) AS total
      FROM events GROUP BY 1),
    win AS (
      SELECT d.day, w.total
      FROM daily d JOIN daily w ON w.day BETWEEN d.day - 6 AND d.day)
    SELECT day,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           median(total) AS med_total
    FROM win GROUP BY day
    """,
    tags=("ext", "timeseries", "window"),
)
def q_moving_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day MEDIAN of daily totals — like the rolling
    distinct (q_rolling_distinct), a window no frame spec can
    express: median is not mergeable, so Spark (correctly) rejects
    percentile functions over sliding frames. Same scalable rewrite:
    aggregate to the day grain FIRST (the only corpus-sized work —
    exact decimal sums so the day totals are bit-identical), then
    expand each day total to the ≤7 report days it serves and take
    an exact median per report day. Shuffle volume after the rollup
    is |days|×7 rows — nothing, at any corpus size. Median parity:
    both engines take the exact mid-rank value (odd count) or the
    mean of the two mid-ranks (even) over IDENTICAL decimal-exact
    doubles, so the hash matches bit-for-bit."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(
        F.sum(F.col("value").cast("decimal(22,6)")).cast("double").alias("total")
    )
    days = daily.select("day")
    expanded = daily.select(
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), ROLL_WINDOW_DAYS - 1))
        ).alias("day"),
        "total",
    ).join(F.broadcast(days), "day", "left_semi")
    return expanded.groupBy("day").agg(
        F.count("*").alias("n_days"),
        F.expr("median(total)").alias("med_total"),
    )


@register(
    "q_skew_audit",
    oracle="""
    WITH counts AS (
      SELECT l_orderkey AS key, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM lineitem GROUP BY 1),
    hot AS (SELECT key AS hot_key, cnt AS hot_cnt
            FROM counts ORDER BY cnt DESC, key LIMIT 1),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT)  AS n_keys,
             CAST(SUM(cnt) AS BIGINT)  AS n_rows,
             CAST(MAX(cnt) AS BIGINT)  AS max_group,
             quantile_cont(cnt, 0.5)   AS p50_group,
             quantile_cont(cnt, 0.99)  AS p99_group
      FROM counts)
    SELECT s.n_keys, s.n_rows, s.max_group, s.p50_group, s.p99_group,
           h.hot_key, h.hot_cnt,
           CAST((s.max_group * 1000000) // s.n_rows AS BIGINT)
             AS top1_share_micro
    FROM stats s, hot h
    """,
    tags=("ext", "quality"),
)
def q_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew audit — the diagnostic a 100 TB job runs
    BEFORE picking a join/agg strategy on a key: per-key group sizes
    reduced to distinct-key count, max / exact p50 / exact p99 group
    size (F.percentile ≡ DuckDB quantile_cont, the q_agg_percentile
    parity), the hottest key itself (ties to the smaller key), and
    the top-1 key's row share in integer micro-units. max/p50 ≫ 1 or
    a large top-1 share is precisely the signal that routes a plan to
    the engine's three skew weapons (salted join q_join_skewed,
    salted two-phase distinct q_agg_skewed, null-key segregation
    q_join_null_skew) or to AQE's skew-join split.

    Scale: pass 1 is a partial-agg count per key (map-side combine —
    shuffle volume is |keys| rows); pass 2 aggregates the |keys|-row
    counts table (exact percentile sorts ONLY the counts table, not
    the data; at extreme key cardinality swap in percentile_approx).
    The hot-key probe is a 1-row TakeOrderedAndProject broadcast back
    onto the 1-row stats frame."""
    li = load_table(spark, sf_dir, "lineitem")
    counts = li.groupBy(F.col("l_orderkey").alias("key")).agg(
        F.count("*").alias("cnt")
    )
    pin(counts.persist())
    stats = counts.agg(
        F.count("*").alias("n_keys"),
        F.sum("cnt").alias("n_rows"),
        F.max("cnt").alias("max_group"),
        # one percentile buffer for both points (bit-identical)
        F.percentile("cnt", F.array(F.lit(0.5), F.lit(0.99))).alias("_pg"),
    ).select(
        "n_keys",
        "n_rows",
        "max_group",
        F.col("_pg")[0].alias("p50_group"),
        F.col("_pg")[1].alias("p99_group"),
    )
    hot = (
        counts.orderBy(F.desc("cnt"), F.asc("key"))
        .limit(1)
        .select(F.col("key").alias("hot_key"), F.col("cnt").alias("hot_cnt"))
    )
    return stats.crossJoin(F.broadcast(hot)).select(
        "n_keys",
        "n_rows",
        "max_group",
        "p50_group",
        "p99_group",
        "hot_key",
        "hot_cnt",
        F.expr("div(max_group * 1000000, n_rows)").alias("top1_share_micro"),
    )
