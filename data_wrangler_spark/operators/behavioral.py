"""Behavioral / event analytics over the `events` stream table:
funnels, cohort retention, sessionization, histograms, exact-moment
correlation.

The reference gateway has no event analytics (no GROUP BY at all —
SURVEY.md §2.4); these are north-star extensions covering the query
shapes an events warehouse actually runs. All five carry exact
DuckDB oracles; the parity tricks are the repo-standard ones:
truncated-second epoch arithmetic instead of interval comparison,
integer-cents quantization before second-moment math, DECIMAL(22,6)
sums for order-independent double totals.

Scale notes: every operator here is one shuffle on its natural key
(user_id for funnel/retention/sessions, the bin/group key for
histogram/corr) with partial aggregation map-side. Session windows
carry O(1) state per user partition; the funnel's step joins are
broadcastable (per-step survivor sets are strictly shrinking and
orders of magnitude smaller than the event log)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from data_wrangler_spark.catalog import load_table
from data_wrangler_spark.operators.aggregates import _osum, dsum
from data_wrangler_spark.registry import register

SESSION_GAP_SEC = 1800  # 30-minute inactivity closes a session
HIST_BIN_WIDTH = 5.0


@register(
    "q_funnel",
    oracle="""
    WITH s1 AS (
      SELECT user_id, MIN(ts) AS t_view
      FROM events WHERE event_type = 'view' GROUP BY 1),
    s2 AS (
      SELECT e.user_id, MIN(e.ts) AS t_click
      FROM events e JOIN s1 USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > s1.t_view GROUP BY 1),
    s3 AS (
      SELECT e.user_id, MIN(e.ts) AS t_purchase
      FROM events e JOIN s2 USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > s2.t_click GROUP BY 1)
    SELECT s1.user_id, s1.t_view, s2.t_click, s3.t_purchase,
           CASE WHEN s3.user_id IS NOT NULL THEN 'purchase'
                WHEN s2.user_id IS NOT NULL THEN 'click'
                ELSE 'view' END AS stage
    FROM s1
    LEFT JOIN s2 ON s2.user_id = s1.user_id
    LEFT JOIN s3 ON s3.user_id = s1.user_id
    """,
    tags=("ext", "behavioral"),
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel view → click → purchase: each step's timestamp
    is the user's first qualifying event strictly AFTER the previous
    step (the ordering constraint is what distinguishes a funnel from
    three independent filters). Three shrinking per-user aggregates;
    each survivor set is broadcast into the next step's filter so the
    event log is scanned, never shuffled on user_id more than the
    aggregates themselves require."""
    ev = load_table(spark, sf_dir, "events")
    s1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(F.broadcast(s1), "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(s2), "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        s1.join(s2, "user_id", "left")
        .join(s3, "user_id", "left")
        .select(
            "user_id",
            "t_view",
            "t_click",
            "t_purchase",
            F.when(F.col("t_purchase").isNotNull(), "purchase")
            .when(F.col("t_click").isNotNull(), "click")
            .otherwise("view")
            .alias("stage"),
        )
    )


@register(
    "q_retention_cohort",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
      FROM events GROUP BY 1),
    act AS (
      SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS act_week
      FROM events)
    SELECT f.cohort_week,
           CAST(date_diff('day', f.cohort_week, a.act_week) / 7 AS INT)
             AS week_offset,
           CAST(COUNT(*) AS BIGINT) AS n_active
    FROM act a JOIN first_seen f ON f.user_id = a.user_id
    GROUP BY 1, 2
    """,
    tags=("ext", "behavioral"),
)
def q_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users bucketed by first-seen week;
    n_active counts cohort members active in each later week (the
    act set is per-user-week DISTINCT, so a user counts once per
    week). The distinct + first-seen aggregates share the user_id
    shuffle; the cohort lookup is a broadcast (one row per user).
    week_offset arithmetic stays integral — both engines truncate the
    same exact multiple of 7 days."""
    ev = load_table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    act = ev.select(
        "user_id", F.date_trunc("week", "ts").cast("date").alias("act_week")
    ).distinct()
    return (
        act.join(F.broadcast(first_seen), "user_id")
        .groupBy(
            "cohort_week",
            (F.datediff("act_week", "cohort_week") / 7).cast("int").alias("week_offset"),
        )
        .agg(F.count("*").alias("n_active"))
    )


@register(
    "q_sessionize",
    oracle=f"""
    WITH x AS (
      SELECT user_id, event_id, ts, value,
             CAST(floor(epoch(ts)) AS BIGINT) AS sec
      FROM events),
    b AS (
      SELECT *,
             CASE WHEN lag(sec) OVER w IS NULL
                    OR sec - lag(sec) OVER w > {SESSION_GAP_SEC}
                  THEN 1 ELSE 0 END AS brk
      FROM x WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s AS (
      SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS sess_no
      FROM b)
    SELECT user_id, CAST(sess_no AS BIGINT) AS sess_no,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {_osum('value')} AS total_value
    FROM s GROUP BY 1, 2
    """,
    tags=("ext", "behavioral"),
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (gaps-and-islands): a >30-min silence in
    a user's event sequence closes the session; sessions are numbered
    by a running sum of break flags and aggregated to one row each.
    Same one-shuffle shape as the streaming session_window operator
    (streaming/windows.py) but over the full history — the window and
    the session aggregate share the user_id partitioning. Gap
    arithmetic uses truncated epoch seconds, identical across
    engines."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "ts",
        "value",
        # events.ts is TIMESTAMP_NTZ; Spark 4 forbids CAST(ntz AS BIGINT),
        # so go via a zoned timestamp (session tz is pinned UTC) to epoch
        # seconds — matches the oracle's floor(epoch(ts)).
        F.unix_timestamp(F.col("ts").cast("timestamp")).alias("sec"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    b = ev.withColumn(
        "brk",
        F.when(
            F.lag("sec").over(w).isNull()
            | ((F.col("sec") - F.lag("sec").over(w)) > SESSION_GAP_SEC),
            1,
        ).otherwise(0),
    )
    s = b.withColumn(
        "sess_no",
        F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    return s.groupBy("user_id", "sess_no").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count("*").alias("n_events"),
        dsum("value").alias("total_value"),
    )


@register(
    "q_hist_value",
    oracle=f"""
    SELECT CAST(floor(value / {HIST_BIN_WIDTH}) AS BIGINT) AS bin,
           CAST(floor(value / {HIST_BIN_WIDTH}) AS BIGINT)
             * CAST({HIST_BIN_WIDTH} AS DOUBLE) AS bin_lo,
           CAST(COUNT(*) AS BIGINT) AS n,
           {_osum('value')} AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    tags=("ext", "behavioral"),
)
def q_hist_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of event values: bin by floor-division,
    count + order-independent decimal sum per bin. The classic
    numeric-profile query — one partial+final aggregate on a small
    integer key; bin count (and so shuffle width) is independent of
    row count."""
    ev = load_table(spark, sf_dir, "events")
    bin_col = F.floor(F.col("value") / HIST_BIN_WIDTH)
    return ev.groupBy(
        bin_col.alias("bin"), (bin_col * HIST_BIN_WIDTH).alias("bin_lo")
    ).agg(
        F.count("*").alias("n"),
        dsum("value").alias("sum_value"),
    )


@register(
    "q_agg_corr",
    oracle="""
    WITH q AS (
      SELECT event_type,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS x,
             CAST(json_extract(props, '$.k') AS INT) AS y
      FROM events),
    m AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT)   AS n,
             CAST(SUM(x) AS BIGINT)     AS sx,
             CAST(SUM(y) AS BIGINT)     AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy
      FROM q GROUP BY 1)
    SELECT event_type, n,
           CAST(n * sxy - sx * sy AS DOUBLE)
             / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS corr,
           CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE) AS slope
    FROM m
    """,
    tags=("ext", "behavioral"),
)
def q_agg_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation + OLS slope between event value and the
    JSON `k` prop, per event type — via exact integer moments:
    quantize x to cents, keep all five sums in BIGINT (bit-identical
    across engines), and only then evaluate the closed-form in
    double, whose ops (·, −, /, √) are IEEE correctly-rounded and so
    also bit-identical. This is the corr()/regr_slope() surface
    without the cross-engine float-accumulation lottery; the same
    one-pass moment aggregation Spark's own corr() runs, map-side
    partial."""
    ev = load_table(spark, sf_dir, "events")
    q = ev.select(
        "event_type",
        F.floor(F.col("value") * 100 + 0.5).alias("x"),
        F.get_json_object("props", "$.k").cast("int").alias("y"),
    )
    m = q.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    numer = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    denx = F.sqrt((F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double"))
    deny = F.sqrt((F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double"))
    return m.select(
        "event_type",
        "n",
        (numer / (denx * deny)).alias("corr"),
        (
            numer
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        ).alias("slope"),
    )


@register(
    "q_cum_users",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, CAST(date_trunc('day', MIN(ts)) AS DATE) AS first_day
      FROM events GROUP BY 1),
    per_day AS (
      SELECT first_day AS day, CAST(COUNT(*) AS BIGINT) AS new_users
      FROM first_seen GROUP BY 1)
    SELECT day, new_users,
           CAST(SUM(new_users) OVER (
             ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
    FROM per_day
    """,
    tags=("ext", "behavioral", "timeseries"),
)
def q_cum_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users by day — the audience-growth curve.
    Windowed COUNT(DISTINCT) is unsupported and would be quadratic
    anyway; the standard reformulation attributes each user to their
    first-seen day and takes a running sum of the per-day counts.
    Two key-bounded shuffles (user_id, then day); the running sum
    runs over |days| rows only, TWO-PHASE (range partition →
    per-partition sums as planned broadcast offsets → partition-local
    prefix sum, functions/distributed.py) so even an unbounded time
    axis never funnels through a one-task sort. All-integer
    arithmetic — exact at any scale."""
    from data_wrangler_spark.functions.distributed import with_global_running_sum

    ev = load_table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).cast("date").alias("day")
    )
    per_day = first_seen.groupBy("day").agg(F.count("*").alias("new_users"))
    return with_global_running_sum(
        per_day, [F.col("day")], "new_users", "cum_users"
    ).select("day", "new_users", "cum_users")


@register(
    "q_rfm",
    oracle="""
    WITH anchor AS (SELECT MAX(o_orderdate) AS d1 FROM orders),
    base AS (
      SELECT o_custkey,
             CAST(datediff('day', MAX(o_orderdate), (SELECT d1 FROM anchor)) AS INT) AS recency_days,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(22,6))) AS DOUBLE) AS monetary
      FROM orders GROUP BY 1)
    SELECT o_custkey, recency_days, frequency, monetary,
           CAST(NTILE(5) OVER (ORDER BY recency_days, o_custkey) AS INT) AS r_score,
           CAST(NTILE(5) OVER (ORDER BY frequency DESC, o_custkey) AS INT) AS f_score,
           CAST(NTILE(5) OVER (ORDER BY monetary DESC, o_custkey) AS INT) AS m_score
    FROM base
    """,
    tags=("ext", "behavioral"),
)
def q_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: recency / frequency / monetary quintiles per
    customer (1 = best in each dimension: most recent, most orders,
    highest spend). One shuffle to the per-customer aggregate; each
    NTILE runs TWO-PHASE (range partition → broadcast offsets →
    partition-local rank + positional bucket arithmetic,
    functions/distributed.py) with explicit custkey tiebreaks, so
    quintile boundaries are engine-identical and no dimension ever
    funnels through a one-task global sort. The recency anchor is
    the data's own max date (broadcast scalar subquery); nothing is
    collected."""
    o = load_table(spark, sf_dir, "orders")
    anchor = o.agg(F.max("o_orderdate").alias("d1"))
    base = (
        o.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count("*").alias("frequency"),
            dsum("o_totalprice").alias("monetary"),
        )
        .crossJoin(F.broadcast(anchor))
        .select(
            "o_custkey",
            F.datediff("d1", "last_order").cast("int").alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    from data_wrangler_spark.functions.distributed import (
        ntile_from_position,
        pin,
        with_global_position,
    )

    base = pin(base.persist())
    orderings = {
        "r_score": [F.col("recency_days"), F.col("o_custkey")],
        "f_score": [F.col("frequency").desc(), F.col("o_custkey")],
        "m_score": [F.col("monetary").desc(), F.col("o_custkey")],
    }
    out = base
    for score, ob in orderings.items():
        pos, n = with_global_position(base, ob, pos_col="_p")
        scored = pos.select(
            "o_custkey", ntile_from_position(F.col("_p"), n, 5).alias(score)
        )
        out = out.join(scored, "o_custkey")
    return out.select(
        "o_custkey", "recency_days", "frequency", "monetary",
        "r_score", "f_score", "m_score",
    )


@register(
    "q_funnel_ttc",
    oracle="""
    WITH s1 AS (
      SELECT user_id, MIN(ts) AS t_view
      FROM events WHERE event_type = 'view' GROUP BY 1),
    s2 AS (
      SELECT e.user_id, MIN(e.ts) AS t_purchase
      FROM events e JOIN s1 USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > s1.t_view GROUP BY 1),
    d AS (
      SELECT CAST(datediff('second', s1.t_view, s2.t_purchase) AS BIGINT) AS ttc_sec
      FROM s1 JOIN s2 USING (user_id))
    SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
           quantile_cont(ttc_sec, 0.5) AS p50_sec,
           quantile_cont(ttc_sec, 0.9) AS p90_sec,
           MIN(ttc_sec) AS min_sec,
           MAX(ttc_sec) AS max_sec
    FROM d
    """,
    tags=("ext", "behavioral"),
)
def q_funnel_ttc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: latency from a user's first view
    to their first subsequent purchase, summarized as exact
    percentiles over integer second deltas (integer inputs keep the
    interpolation identical between engines). Same shrinking
    broadcast pattern as q_funnel; the percentile runs over one row
    per converted user."""
    ev = load_table(spark, sf_dir, "events")
    s1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(s1), "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    d = s1.join(s2, "user_id").select(
        (
            F.unix_timestamp("t_purchase") - F.unix_timestamp("t_view")
        ).alias("ttc_sec")
    )
    return d.agg(
        F.count("*").alias("n_converted"),
        # one percentile buffer for both points (bit-identical)
        F.percentile("ttc_sec", F.array(F.lit(0.5), F.lit(0.9))).alias("_p"),
        F.min("ttc_sec").alias("min_sec"),
        F.max("ttc_sec").alias("max_sec"),
    ).select(
        "n_converted",
        F.col("_p")[0].alias("p50_sec"),
        F.col("_p")[1].alias("p90_sec"),
        "min_sec",
        "max_sec",
    )


@register(
    "q_markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS next_type
      FROM events),
    pairs AS (
      SELECT event_type AS from_type, next_type AS to_type,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM seq WHERE next_type IS NOT NULL
      GROUP BY 1, 2)
    SELECT from_type, to_type, n,
           CAST(n AS DOUBLE)
             / SUM(n) OVER (PARTITION BY from_type) AS p
    FROM pairs
    """,
    tags=("ext", "behavioral"),
)
def q_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over the per-user event
    sequence: P(next event type | current type). LEAD over
    (user, time) — one shuffle on user_id — then counts collapse to
    the |types|² grid before the probability division (exact integers
    in, identical double division out). The canonical input for
    next-action models and session-flow sanity checks."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    pairs = seq.groupBy(
        F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type")
    ).agg(F.count("*").alias("n"))
    wt = Window.partitionBy("from_type")
    return pairs.select(
        "from_type",
        "to_type",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(wt)).alias("p"),
    )


@register(
    "q_attribution",
    oracle=f"""
    WITH x AS (
      SELECT user_id, event_id, event_type, ts, value,
             CAST(floor(epoch(ts)) AS BIGINT) AS sec
      FROM events),
    b AS (
      SELECT *,
             CASE WHEN lag(sec) OVER w IS NULL
                    OR sec - lag(sec) OVER w > {{gap}}
                  THEN 1 ELSE 0 END AS brk
      FROM x WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s AS (
      SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS sess_no
      FROM b),
    first_touch AS (
      SELECT user_id, sess_no, event_type AS first_type
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, sess_no
                                         ORDER BY ts, event_id) AS rn
            FROM s)
      WHERE rn = 1),
    purch AS (
      SELECT s.user_id, s.sess_no, s.value
      FROM s WHERE s.event_type = 'purchase')
    SELECT f.first_type,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(SUM(CAST(p.value AS DECIMAL(22,6))) AS DOUBLE)
             AS attributed_value
    FROM purch p JOIN first_touch f
      ON f.user_id = p.user_id AND f.sess_no = p.sess_no
    GROUP BY f.first_type
    """.replace("{gap}", "1800"),
    tags=("ext", "behavioral"),
)
def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIRST-TOUCH attribution — the marketing-analytics consumer of
    sessionization: every purchase's value is credited to the event
    TYPE that OPENED its session (the same 30-min gaps-and-islands
    sessions as q_sessionize, deterministic (ts, event_id) order),
    reported as purchases and exact decimal value per acquiring
    channel. Last-touch / position-based models swap the rn=1 pick
    for rn=last or a weight vector — same plan.

    Scale: one user_id shuffle shared by the break window, the
    session numbering, the first-touch rank, and the purchase join
    (exchange reuse keeps it ONE physical shuffle); state per user is
    O(1). The session-key join is co-partitioned by construction."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "ts", "value",
        F.floor(
            F.to_timestamp(F.col("ts")).cast("double")
        ).cast("long").alias("sec"),
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    brk = F.when(
        F.lag("sec").over(w).isNull()
        | (F.col("sec") - F.lag("sec").over(w) > SESSION_GAP_SEC),
        1,
    ).otherwise(0)
    s = ev.withColumn("brk", brk).withColumn(
        "sess_no", F.sum("brk").over(w.rowsBetween(W.unboundedPreceding, 0))
    )
    first_touch = (
        s.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("user_id", "sess_no").orderBy("ts", "event_id")
            ),
        )
        .filter(F.col("rn") == 1)
        .select("user_id", "sess_no", F.col("event_type").alias("first_type"))
    )
    purch = s.filter(F.col("event_type") == "purchase").select(
        "user_id", "sess_no", "value"
    )
    return (
        purch.join(first_touch, ["user_id", "sess_no"])
        .groupBy("first_type")
        .agg(
            F.count("*").alias("n_purchases"),
            F.sum(F.col("value").cast("decimal(22,6)"))
            .cast("double")
            .alias("attributed_value"),
        )
    )


DEBOUNCE_WINDOW_SEC = 600  # q_dedup_temporal: same-signal silence window


@register(
    "q_dedup_temporal",
    oracle=f"""
    WITH d AS (
      SELECT event_id, user_id, event_type, ts, value,
             floor(epoch(ts)) AS sec,
             LAG(floor(epoch(ts))) OVER (
               PARTITION BY user_id, event_type
               ORDER BY ts, event_id) AS prev_sec
      FROM events)
    SELECT event_id, user_id, event_type, ts, value
    FROM d
    WHERE prev_sec IS NULL OR sec - prev_sec > {DEBOUNCE_WINDOW_SEC}
    """,
    tags=("ext", "behavioral", "dedup"),
)
def q_dedup_temporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal dedup (debounce): an event is kept iff the same
    user's previous event of the same type is more than
    DEBOUNCE_WINDOW_SEC older — the standard rate-limit for resent
    telemetry signals / duplicate webhooks / retried client pings.
    Sliding semantics (each survivor restarts nothing; every event
    compares to its immediate same-key predecessor), so the decision
    is a single LAG over (user_id, event_type) — one shuffle on the
    dedup key, O(1) state per row, no gaps-and-islands numbering
    needed. At 100 TB the window partitioning IS the shuffle
    partitioning; a date-partitioned layout prunes the scan first and
    per-key history never leaves its partition. Gap arithmetic uses
    truncated epoch seconds (the repo-standard cross-engine idiom —
    see q_sessionize). The streaming complement is q_stream_dedup
    (watermarked dropDuplicates); this is the batch/backfill form."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        "ts",
        "value",
        # NTZ → zoned → epoch seconds (session tz pinned UTC), matching
        # the oracle's floor(epoch(ts)) — q_sessionize's idiom
        F.unix_timestamp(F.col("ts").cast("timestamp")).alias("sec"),
    )
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    d = ev.withColumn("prev_sec", F.lag("sec").over(w))
    return d.filter(
        F.col("prev_sec").isNull()
        | (F.col("sec") - F.col("prev_sec") > DEBOUNCE_WINDOW_SEC)
    ).select("event_id", "user_id", "event_type", "ts", "value")
