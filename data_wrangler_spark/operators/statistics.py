"""Distribution statistics: median absolute deviation, Shannon
entropy, Gini coefficient.

North-star robust-stats extensions (the reference has no aggregation
surface at all — SURVEY.md §2.4). All exact DuckDB oracles, using
three repo parity techniques in combination:

- exact percentiles (interpolation verified identical between
  engines) for MAD;
- the float32-cast guard for transcendentals (ln may differ by 1 ULP
  between the JVM and libm — casting both engines' ln to float32
  absorbs it) for entropy;
- exact decimal moments + identical double derivation for Gini, with
  per-term DECIMAL quantization wherever a sum's order would
  otherwise leak ULPs.

Scale notes: MAD is two broadcast-joined aggregation passes over the
fact scan (the 100 TB path swaps exact percentiles for
percentile_approx). Entropy reduces to |source×lang| counts before
any float math — the transcendental runs on the tiny aggregated
frame. Gini's global row_number is the scale hazard: a
single-partition sort window. At 100 TB replace it with a
range-partitioned sort + per-partition prefix sums (two passes); the
algebra — (2·Σi·xᵢ − (n+1)·Σx) / (n·Σx) — is unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from data_wrangler_spark.catalog import load_table
from data_wrangler_spark.operators.aggregates import _osum
from data_wrangler_spark.registry import register


@register(
    "q_mad",
    oracle="""
    WITH med AS (
      SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS median_qty
      FROM lineitem GROUP BY 1)
    SELECT l.l_returnflag,
           m.median_qty,
           quantile_cont(abs(l.l_quantity - m.median_qty), 0.5) AS mad_qty,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem l JOIN med m USING (l_returnflag)
    GROUP BY 1, 2
    """,
    tags=("ext", "stats"),
)
def q_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation per group — the robust spread
    estimator (insensitive to the outliers that wreck stddev). Two
    aggregation passes: group medians broadcast back over the fact
    scan, then the median of absolute deviations. Exact percentile
    interpolation is engine-identical, and |x−m| is exact double
    arithmetic, so both engines see identical deviation multisets."""
    li = load_table(spark, sf_dir, "lineitem")
    med = li.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", 0.5).alias("median_qty")
    )
    return (
        li.join(F.broadcast(med), "l_returnflag")
        .groupBy("l_returnflag", "median_qty")
        .agg(
            F.percentile(F.abs(F.col("l_quantity") - F.col("median_qty")), 0.5).alias(
                "mad_qty"
            ),
            F.count("*").alias("n"),
        )
    )


@register(
    "q_entropy",
    oracle="""
    WITH counts AS (
      SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM documents GROUP BY 1, 2),
    probs AS (
      SELECT source, lang, cnt,
             CAST(cnt AS DOUBLE) / SUM(cnt) OVER (PARTITION BY source) AS p
      FROM counts)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_langs,
           CAST(SUM(cnt) AS BIGINT) AS n_docs,
           -CAST(SUM(CAST(p * CAST(CAST(ln(p) AS FLOAT) AS DOUBLE) AS DECIMAL(22,6))) AS DOUBLE) AS entropy
    FROM probs
    GROUP BY 1
    """,
    tags=("ext", "stats"),
)
def q_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the language mix per source — the mixture
    diagnostic for corpus curation (a source whose entropy collapses
    is monolingual; one near ln(k) is uniform). All heavy work is the
    one (source, lang) count shuffle; probabilities and the
    transcendental run on the aggregated frame. ln is the one
    operation the engines may disagree on by 1 ULP, so both sides
    squeeze it through float32 before the (order-independent,
    decimal-quantized) sum."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source", "lang").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("source")
    p = F.col("cnt").cast("double") / F.sum("cnt").over(w)
    probs = counts.select("source", "lang", "cnt", p.alias("p"))
    term = (F.col("p") * F.log(F.col("p")).cast("float").cast("double")).cast(
        "decimal(22,6)"
    )
    return probs.groupBy("source").agg(
        F.count("*").alias("n_langs"),
        F.sum("cnt").alias("n_docs"),
        (-F.sum(term).cast("double")).alias("entropy"),
    )


@register(
    "q_gini",
    oracle="""
    WITH spend AS (
      SELECT o_custkey,
             SUM(CAST(o_totalprice AS DECIMAL(22,6))) AS x_dec
      FROM orders GROUP BY 1),
    ranked AS (
      SELECT o_custkey, x_dec,
             ROW_NUMBER() OVER (ORDER BY x_dec, o_custkey) AS i
      FROM spend),
    moments AS (
      -- exact integer CENTS, not decimal→double: above 2^53 (hit at
      -- the f5 probe) DuckDB's decimal→double cast is not correctly
      -- rounded, but BIGINT→DOUBLE is IEEE round-to-nearest in both
      -- engines, so identical integers give identical doubles
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(CAST(SUM(i * x_dec) AS DECIMAL(38,2)) * 100 AS BIGINT) AS s1c,
             CAST(CAST(SUM(x_dec) AS DECIMAL(38,2)) * 100 AS BIGINT) AS s0c
      FROM ranked)
    SELECT n, CAST(s0c AS DOUBLE) / 100 AS total_spend,
           (2 * CAST(s1c AS DOUBLE) - (n + 1) * CAST(s0c AS DOUBLE))
             / (n * CAST(s0c AS DOUBLE)) AS gini
    FROM moments
    """,
    tags=("ext", "stats"),
)
def q_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer spend — the inequality measure
    behind data-mix audits (how concentrated is volume across
    sources/users?). Per-customer spend in exact decimal, global
    rank by (spend, custkey), then G = (2·Σi·xᵢ − (n+1)·Σx)/(n·Σx)
    from two exact integer-cents moments — the BIGINT→DOUBLE
    conversion (IEEE round-to-nearest in both engines, unlike
    DuckDB's decimal→double past 2^53) and the final double division
    are the only inexact steps and run on identical operands in both
    engines. The global rank runs TWO-PHASE (range partition →
    per-partition prefix counts as broadcast offsets, functions/
    distributed.py) — same algebra, no one-task sort, no collect."""
    from data_wrangler_spark.functions.distributed import with_global_position

    o = load_table(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(22,6)")).alias("x_dec")
    )
    pos, _n = with_global_position(spend, [F.col("x_dec"), F.col("o_custkey")])
    ranked = pos.withColumn("i", F.col("_pos") + 1)
    moments = ranked.agg(
        F.count("*").alias("n"),
        # exact integer cents (not decimal→double: past 2^53 DuckDB's
        # decimal cast is not correctly rounded — seen as a 1-ulp
        # PASS_APPROX at the f5 probe; BIGINT→DOUBLE is IEEE
        # round-to-nearest in both engines)
        (F.sum(F.col("i") * F.col("x_dec")).cast("decimal(38,2)") * 100)
        .cast("bigint")
        .alias("s1c"),
        (F.sum("x_dec").cast("decimal(38,2)") * 100).cast("bigint").alias("s0c"),
    )
    s0d = F.col("s0c").cast("double")
    s1d = F.col("s1c").cast("double")
    return moments.select(
        "n",
        (s0d / 100).alias("total_spend"),
        ((2 * s1d - (F.col("n") + 1) * s0d) / (F.col("n") * s0d)).alias("gini"),
    )


@register(
    "q_ab_test",
    oracle="""
    WITH assigned AS (
      SELECT user_id,
             CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
             CASE WHEN event_type = 'purchase'
                   AND CAST(json_extract(props, '$.k') AS INT) > 95
                  THEN 1 ELSE 0 END AS converted
      FROM events),
    per_user AS (
      SELECT variant, user_id, CAST(MAX(converted) AS INT) AS converted
      FROM assigned GROUP BY 1, 2),
    arms AS (
      SELECT variant,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(converted) AS BIGINT) AS conv
      FROM per_user GROUP BY 1),
    wide AS (
      SELECT
        MAX(CASE WHEN variant = 'A' THEN n END) AS n_a,
        MAX(CASE WHEN variant = 'A' THEN conv END) AS c_a,
        MAX(CASE WHEN variant = 'B' THEN n END) AS n_b,
        MAX(CASE WHEN variant = 'B' THEN conv END) AS c_b
      FROM arms)
    SELECT n_a, c_a, n_b, c_b,
           CAST(c_a AS DOUBLE) / n_a AS rate_a,
           CAST(c_b AS DOUBLE) / n_b AS rate_b,
           (CAST(c_a AS DOUBLE) / n_a - CAST(c_b AS DOUBLE) / n_b)
             / sqrt(
                 (CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                 * (1 - CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                 * (CAST(1 AS DOUBLE) / n_a + CAST(1 AS DOUBLE) / n_b)
               ) AS z_stat
    FROM wide
    """,
    tags=("ext", "stats", "behavioral"),
)
def q_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test: users split into arms by id parity;
    a user converts on any purchase whose JSON payload has k > 95
    (get_json_object parses the props column in-plan). Did arm A's
    user-level conversion differ from B's?
    Assignment → per-user conversion flag (MAX over events — a user
    converts once) → two count pairs → pooled z. From the counts on,
    every value is derived in identical double arithmetic from exact
    integers, so even z's last bit agrees. One shuffle on
    (variant, user_id); the z arithmetic runs on a 1-row frame."""
    ev = load_table(spark, sf_dir, "events")
    assigned = ev.select(
        "user_id",
        F.when(F.col("user_id") % 2 == 0, "A").otherwise("B").alias("variant"),
        F.when(
            (F.col("event_type") == "purchase")
            & (F.get_json_object("props", "$.k").cast("int") > 95),
            1,
        ).otherwise(0).alias("converted"),
    )
    per_user = assigned.groupBy("variant", "user_id").agg(
        F.max("converted").cast("int").alias("converted")
    )
    arms = per_user.groupBy("variant").agg(
        F.count("*").alias("n"), F.sum("converted").alias("conv")
    )
    wide = arms.agg(
        F.max(F.when(F.col("variant") == "A", F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("variant") == "A", F.col("conv"))).alias("c_a"),
        F.max(F.when(F.col("variant") == "B", F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("variant") == "B", F.col("conv"))).alias("c_b"),
    )
    ra = F.col("c_a").cast("double") / F.col("n_a")
    rb = F.col("c_b").cast("double") / F.col("n_b")
    pool = (F.col("c_a") + F.col("c_b")).cast("double") / (F.col("n_a") + F.col("n_b"))
    z = (ra - rb) / F.sqrt(
        pool * (1 - pool)
        * (F.lit(1).cast("double") / F.col("n_a") + F.lit(1).cast("double") / F.col("n_b"))
    )
    return wide.select(
        "n_a", "c_a", "n_b", "c_b",
        ra.alias("rate_a"), rb.alias("rate_b"), z.alias("z_stat"),
    )


@register(
    "q_pareto",
    oracle="""
    WITH spend AS (
      SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(22,6))) AS x_dec
      FROM orders GROUP BY 1),
    tiled AS (
      SELECT o_custkey, x_dec,
             CAST(NTILE(10) OVER (ORDER BY x_dec DESC, o_custkey) AS INT) AS decile
      FROM spend)
    SELECT decile,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(CAST(SUM(x_dec) AS DECIMAL(38,2)) AS DOUBLE) AS revenue,
           CAST(CAST(SUM(x_dec) AS DECIMAL(38,2)) AS DOUBLE)
             / CAST(CAST(SUM(SUM(x_dec)) OVER () AS DECIMAL(38,2)) AS DOUBLE) AS revenue_share
    FROM tiled
    GROUP BY 1
    """,
    tags=("ext", "stats", "behavioral"),
)
def q_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto concentration: customers split into spend deciles (top
    decile first), each decile's share of total revenue — the 80/20
    audit behind data-mix and account decisions. Exact decimal sums
    end-to-end; the only doubles are the final share divisions on
    identical operands. The decile assignment runs TWO-PHASE over the
    *aggregated* per-customer frame (range partition → broadcast
    offsets → positional bucket arithmetic, functions/distributed.py)
    — byte-identical to the oracle's NTILE, no one-task sort/collect."""
    from data_wrangler_spark.functions.distributed import (
        ntile_from_position,
        with_global_position,
    )

    o = load_table(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(22,6)")).alias("x_dec")
    )
    pos, n = with_global_position(spend, [F.col("x_dec").desc(), F.col("o_custkey")])
    tiled = pos.withColumn("decile", ntile_from_position(F.col("_pos"), n, 10))
    g = tiled.groupBy("decile").agg(
        F.count("*").alias("n_customers"),
        F.sum("x_dec").cast("decimal(38,2)").alias("rev_dec"),
    )
    total = F.sum("rev_dec").over(Window.partitionBy())
    return g.select(
        "decile",
        "n_customers",
        F.col("rev_dec").cast("double").alias("revenue"),
        (F.col("rev_dec").cast("double") / total.cast("double")).alias("revenue_share"),
    )


@register(
    "q_skyline",
    oracle=f"""
    WITH agg AS (
      SELECT c.c_custkey, c.c_name,
             {_osum('o.o_totalprice')}  AS total_spent,
             CAST(count(*) AS BIGINT)   AS n_orders
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_custkey, c.c_name)
    SELECT a.c_custkey, a.c_name, a.total_spent, a.n_orders
    FROM agg a
    WHERE NOT EXISTS (
      SELECT 1 FROM agg b
      WHERE b.total_spent >= a.total_spent
        AND b.n_orders    >= a.n_orders
        AND (b.total_spent > a.total_spent OR b.n_orders > a.n_orders))
    """,
    tags=("ext", "analytics", "skyline"),
)
def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier): customers not strictly dominated
    on (total spend, order count). The oracle states the textbook
    quadratic NOT-EXISTS definition; the Spark plan is the scalable
    single-sweep equivalent — per-spend max order count, then a
    running-max envelope over *distinct* spend values sorted
    descending: a row survives iff it carries its spend level's max
    count AND beats the envelope of every strictly-higher spend.
    Identical results, O(n log n) not O(n²).

    Scale: the quadratic work never happens; the envelope window runs
    over the distinct-x frame (≤ one row per customer, collapsed
    from the fact table by the aggregate). That frame's global sort
    is the only non-partition-local step — it range-partitions
    (local running max seeded by a K-row window of earlier
    partitions' maxima, broadcast back; no collect)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    agg = (
        c.join(o, o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(22,6)"))
            .cast("double")
            .alias("total_spent"),
            F.count("*").alias("n_orders"),
        )
    )
    from data_wrangler_spark.functions.distributed import with_global_running_max

    per_x = agg.groupBy("total_spent").agg(F.max("n_orders").alias("max_y"))
    # prefix-exclusive envelope, two-phase (range partitions + offset
    # maxima, functions/distributed.py) — no one-task sort over the
    # distinct-spend frame
    env = with_global_running_max(
        per_x, [F.col("total_spent").desc()], "max_y", "env", exclusive=True
    )
    return (
        agg.join(env, "total_spent")
        .filter(
            (F.col("n_orders") == F.col("max_y"))
            & (F.col("env").isNull() | (F.col("n_orders") > F.col("env")))
        )
        .select("c_custkey", "c_name", "total_spent", "n_orders")
    )


@register(
    "q_quantile_bins",
    oracle="""
    WITH t AS (
      SELECT l_extendedprice,
             NTILE(4) OVER (ORDER BY l_extendedprice, l_orderkey,
                            l_linenumber) AS bin
      FROM lineitem)
    SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(l_extendedprice) AS lo, MAX(l_extendedprice) AS hi,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(22,6))) AS DOUBLE)
             AS total
    FROM t GROUP BY 1
    """,
    tags=("ext", "stats", "window"),
)
def q_quantile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-FREQUENCY binning — the quantile counterpart of
    q_hist_value's fixed-width histogram: every price lands in one of
    4 population-balanced bins, then per-bin count / bounds /
    decimal-exact sum. A naive global NTILE is a one-task sort; this
    runs TWO-PHASE over the raw rows (range partition on the full
    unique order → broadcast per-partition offsets → positional
    bucket arithmetic, functions/distributed.py, no collect),
    byte-identical to the oracle's NTILE at any partition count. The
    pk tiebreak (orderkey, linenumber) makes the order total, so bucket
    boundaries are deterministic even among equal prices."""
    from data_wrangler_spark.functions.distributed import (
        ntile_from_position,
        with_global_position,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    pos, n = with_global_position(
        li, [F.col("l_extendedprice"), F.col("l_orderkey"), F.col("l_linenumber")]
    )
    binned = pos.withColumn("bin", ntile_from_position(F.col("_pos"), n, 4))
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("l_extendedprice").alias("lo"),
        F.max("l_extendedprice").alias("hi"),
        F.sum(F.col("l_extendedprice").cast("decimal(22,6)"))
        .cast("double")
        .alias("total"),
    )


DP_EPS = 1          # epsilon (integer so b = 1/eps is exact)
DP_SEED = "dp1"     # released-noise seed — rotate per release


@register(
    "q_dp_count",
    oracle=f"""
    WITH g AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_true FROM documents
      GROUP BY lang),
    drawn AS (
      SELECT lang, n_true,
             (('0x' || substr(md5(lang || '#{DP_SEED}'), 1, 15))::BIGINT + 1)
               / CAST(1152921504606846976 AS DOUBLE) AS u
      FROM g),
    noised AS (
      SELECT lang, n_true,
             CAST(floor(
               -sign(u - 0.5)
               * CAST(CAST(ln(1 - 2 * abs(u - 0.5)) AS FLOAT) AS DOUBLE)
               / {DP_EPS} * 1000000
             ) AS BIGINT) AS noise_micro
      FROM drawn)
    SELECT lang, n_true, noise_micro,
           n_true * 1000000 + noise_micro AS n_dp_micro
    FROM noised
    """,
    tags=("ext", "statistics", "privacy"),
)
def q_dp_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private group counts — the release format for
    sharing corpus statistics: per-language doc counts + Laplace(1/ε)
    noise via inverse-CDF sampling, noise = -(1/ε)·sign(u-½)·
    ln(1-2|u-½|), sensitivity 1 for a count. The draw u comes from a
    SEEDED md5 hash of the group key (the seed rotates per release),
    which is how production DP pipelines are built anyway: releases
    must be REPLAYABLE from the seed — re-running a release must not
    consume fresh privacy budget — and that same determinism is what
    lets the DuckDB oracle replay the noise bit-for-bit (ln through
    the float32 parity guard, everything after in exact integer
    micro-units). Per group: true count (internal), the noise draw,
    and the released noised count.

    Scale: one partial+final count aggregate; the noise is a
    scan-side expression over |groups| rows. Nothing about the data
    path changes at 100 TB — DP cost is per-release bookkeeping, not
    compute."""
    from data_wrangler_spark.operators.dedup import _md5_long

    d = load_table(spark, sf_dir, "documents")
    g = d.groupBy("lang").agg(F.count("*").alias("n_true"))
    u = (_md5_long(F.concat(F.col("lang"), F.lit(f"#{DP_SEED}"))) + 1) / F.lit(
        float(1 << 60)
    )
    c = u - 0.5
    noise_micro = F.floor(
        -F.signum(c)
        * F.log(1 - 2 * F.abs(c)).cast("float").cast("double")
        / DP_EPS
        * 1000000
    ).cast("long")
    return g.select(
        "lang",
        "n_true",
        noise_micro.alias("noise_micro"),
        (F.col("n_true") * 1000000 + noise_micro).alias("n_dp_micro"),
    )


@register(
    "q_benford",
    oracle="""
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
                         1, 1) AS INT) AS digit
      FROM orders WHERE o_totalprice >= 1),
    counts AS (
      SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY digit),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM counts)
    SELECT c.digit, c.n,
           (c.n * 1000000) // t.t AS obs_micro,
           CAST(floor(CAST(CAST(ln(1.0 + 1.0 / c.digit) AS FLOAT) AS DOUBLE)
                      / CAST(CAST(ln(10.0) AS FLOAT) AS DOUBLE)
                      * 1000000) AS BIGINT) AS benford_micro
    FROM counts c, tot t
    """,
    tags=("ext", "statistics", "quality"),
)
def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit over order totals — the
    classic fraud/synthetic-data screen: natural multi-scale amounts
    follow P(d) = log10(1 + 1/d); fabricated or truncated data
    doesn't. Per digit: observed count, observed frequency, and the
    Benford expectation — both in integer micro-units (the two ln
    calls run through the float32 parity guard; everything after is
    exact integer math, so the comparison table hash-matches).

    Scale: one scan + a 9-row aggregate; the expectation is a
    scan-side expression on the 9-row result. The verdict (how far
    observed sits from expected) is left to the reader/monitoring
    layer — the operator's job is the exactly-reproducible table."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    digit = (
        F.substring(
            F.floor(F.col("o_totalprice")).cast("long").cast("string"), 1, 1
        )
        .cast("int")
        .alias("digit")
    )
    counts = o.select(digit).groupBy("digit").agg(F.count("*").alias("n"))
    tot = counts.agg(F.sum("n").alias("t"))
    benford = F.floor(
        F.log(1.0 + 1.0 / F.col("digit")).cast("float").cast("double")
        / F.log(F.lit(10.0)).cast("float").cast("double")
        * 1000000
    ).cast("long")
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n",
            F.expr("div(n * 1000000, t)").alias("obs_micro"),
            benford.alias("benford_micro"),
        )
    )


K_ANON = 5  # q_k_anonymity: minimum safe group size


@register(
    "q_k_anonymity",
    oracle=f"""
    WITH g AS (
      SELECT event_type, hour(ts) AS hr,
             CAST(floor(value / 100) AS BIGINT) AS vbucket,
             CAST(COUNT(*) AS BIGINT) AS sz
      FROM events GROUP BY 1, 2, 3)
    SELECT event_type,
           CAST(SUM(sz) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(CASE WHEN sz < {K_ANON} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_small_groups,
           CAST(SUM(CASE WHEN sz < {K_ANON} THEN sz ELSE 0 END) AS BIGINT)
             AS suppressed_rows,
           CAST(MIN(sz) AS BIGINT) AS min_group_size,
           CAST(SUM(CASE WHEN sz < {K_ANON} THEN sz ELSE 0 END) AS BIGINT)
             * 1000000
             // CAST(SUM(sz) AS BIGINT) AS suppression_micro
    FROM g GROUP BY 1
    """,
    tags=("ext", "statistics", "privacy"),
)
def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit — the release gate that pairs with q_dp_count
    in the privacy family: group the table by its quasi-identifier
    tuple (event_type, hour-of-day, coarse value bucket), then report
    per event_type how many QI groups fall below k=5 members and what
    fraction of rows a suppress-small-groups release would drop
    (integer micro-units; both engines' integer division truncates
    identically on non-negatives). The standard pre-publication audit
    for training corpora carrying user-derived telemetry.

    Scale: two stacked aggregations — the QI groupBy partial-aggregates
    map-side (the QI keyspace, |types|x24x|buckets|, is tiny relative
    to the fact table), and the per-type re-agg runs on the already
    aggregated frame; one real shuffle over the fact data, no window,
    no join. hour() on the NTZ timestamp involves no zone math in
    either engine."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.hour("ts").alias("hr"),
        F.floor(F.col("value") / 100).cast("long").alias("vbucket"),
    )
    g = ev.groupBy("event_type", "hr", "vbucket").agg(F.count("*").alias("sz"))
    small = F.col("sz") < K_ANON
    return (
        g.groupBy("event_type")
        .agg(
            F.sum("sz").alias("n_rows"),
            F.count("*").alias("n_groups"),
            F.sum(F.when(small, 1).otherwise(0)).alias("n_small_groups"),
            F.sum(F.when(small, F.col("sz")).otherwise(0)).alias(
                "suppressed_rows"
            ),
            F.min("sz").alias("min_group_size"),
        )
        .withColumn(
            "suppression_micro",
            F.expr("suppressed_rows * 1000000 DIV n_rows"),
        )
    )
