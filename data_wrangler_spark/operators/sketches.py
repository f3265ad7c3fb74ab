"""Deterministic probabilistic-structure operators: Count-Min sketch
heavy hitters and a Bloom-filter pre-join — with EXACT oracles.

Spark's own sketches (HLL approx_count_distinct, GK
approx_percentile, runtime bloom-join) are engine-internal and can't
be cross-checked value-for-value against another engine (those stay
rows-only + pytest error-bound pins — see aggregates.py /
relational_extras.py). These two operators instead build the
sketches *in the data plane* from a cross-engine md5 hash family, so
the full sketch arithmetic — bucket counts, min-estimates, bit
membership, false-positive accounting — is bit-identical in DuckDB
and carries a real oracle. That is the point: the sketch logic the
engine would run at 100 TB is itself under the correctness gate.

Scale notes: both sketches are O(1)-size aggregation states built in
one partial+final pass over the data (the sketch tables are ≤ a few
thousand rows — broadcastable by construction); probes are
broadcast-hash lookups, never a shuffle of the big side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from data_wrangler_spark.catalog import load_table
from data_wrangler_spark.functions.text import TOKEN_REGEX
from data_wrangler_spark.operators.dedup import _md5_long, _sql_md5_long
from data_wrangler_spark.registry import register

CMS_DEPTH = 4       # hash rows
CMS_WIDTH = 1024    # buckets per row
CMS_MIN_COUNT = 40  # heavy-hitter report floor (true count)

BLOOM_BITS = 8192   # m
BLOOM_HASHES = 3    # k
BLOOM_SEGMENT = "BUILDING"


def _sql_seeds(n: int) -> str:
    return "[" + ", ".join(str(i + 1) for i in range(n)) + "]"


@register(
    "q_sketch_cms",
    oracle=f"""
    WITH tok AS (
      SELECT unnest(regexp_extract_all(lower(text), '{TOKEN_REGEX}')) AS token
      FROM documents),
    truec AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS true_count
      FROM tok GROUP BY token),
    cells AS (
      SELECT seed, {_sql_md5_long("(token || '#' || seed)")} % {CMS_WIDTH} AS bucket,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM tok, unnest({_sql_seeds(CMS_DEPTH)}) AS s(seed)
      GROUP BY 1, 2),
    probes AS (
      SELECT t.token, t.true_count, s.seed,
             {_sql_md5_long("(t.token || '#' || s.seed)")} % {CMS_WIDTH} AS bucket
      FROM truec t, unnest({_sql_seeds(CMS_DEPTH)}) AS s(seed)
      WHERE t.true_count >= {CMS_MIN_COUNT})
    SELECT p.token, p.true_count,
           MIN(c.cnt) AS cms_estimate,
           MIN(c.cnt) - p.true_count AS overestimate
    FROM probes p
    JOIN cells c ON c.seed = p.seed AND c.bucket = p.bucket
    GROUP BY p.token, p.true_count
    """,
    tags=("ext", "sketch"),
)
def q_sketch_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch heavy hitters: every token occurrence
    increments CMS_DEPTH counters (md5-seeded buckets mod CMS_WIDTH);
    a token's estimate is the MIN of its counters — always ≥ the true
    count, with the overestimate column showing collision error. The
    sketch build is a single partial+final aggregation whose state is
    capped at depth×width cells no matter the corpus size (the
    defining CMS property); heavy-hitter probes then join the tiny
    cell table. Reported tokens are floored at a true count so the
    output is small and stable."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit(TOKEN_REGEX), 0)
        ).alias("token")
    )
    seeds = F.array(*[F.lit(i + 1) for i in range(CMS_DEPTH)])
    # one (seed, bucket) cell per token occurrence × hash row
    cells = (
        tok.select("token", F.explode(seeds).alias("seed"))
        .select(
            "seed",
            (
                _md5_long(F.concat(F.col("token"), F.lit("#"), F.col("seed").cast("string")))
                % CMS_WIDTH
            ).alias("bucket"),
        )
        .groupBy("seed", "bucket")
        .agg(F.count("*").alias("cnt"))
    )
    truec = tok.groupBy("token").agg(F.count("*").alias("true_count"))
    probes = (
        truec.filter(F.col("true_count") >= CMS_MIN_COUNT)
        .select("token", "true_count", F.explode(seeds).alias("seed"))
        .withColumn(
            "bucket",
            _md5_long(F.concat(F.col("token"), F.lit("#"), F.col("seed").cast("string")))
            % CMS_WIDTH,
        )
    )
    # cells ≤ depth×width rows by construction → broadcast the sketch
    return (
        probes.join(F.broadcast(cells), ["seed", "bucket"])
        .groupBy("token", "true_count")
        .agg(F.min("cnt").alias("cms_estimate"))
        .withColumn("overestimate", F.col("cms_estimate") - F.col("true_count"))
    )


@register(
    "q_bloom_join",
    oracle=f"""
    WITH dim AS (
      SELECT c_custkey FROM customer WHERE c_mktsegment = '{BLOOM_SEGMENT}'),
    bits AS (
      SELECT DISTINCT
             {_sql_md5_long("(CAST(c_custkey AS VARCHAR) || '#' || seed)")}
               % {BLOOM_BITS} AS bit
      FROM dim, unnest({_sql_seeds(BLOOM_HASHES)}) AS s(seed)),
    pbits AS (
      SELECT o.o_orderkey, o.o_custkey, o.o_orderstatus,
             {_sql_md5_long("(CAST(o.o_custkey AS VARCHAR) || '#' || seed)")}
               % {BLOOM_BITS} AS bit
      FROM orders o
      CROSS JOIN unnest({_sql_seeds(BLOOM_HASHES)}) AS s(seed)),
    probe AS (
      SELECT p.o_orderkey, p.o_custkey, p.o_orderstatus,
             CAST(COUNT(*) AS BIGINT) AS n_hit
      FROM pbits p JOIN bits b ON b.bit = p.bit
      GROUP BY 1, 2, 3),
    flagged AS (
      SELECT p.o_orderstatus,
             (p.n_hit = {BLOOM_HASHES}) AS bloom_pass,
             (d.c_custkey IS NOT NULL) AS true_match
      FROM probe p LEFT JOIN dim d ON d.c_custkey = p.o_custkey)
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN bloom_pass THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bloom_pass,
           CAST(SUM(CASE WHEN true_match THEN 1 ELSE 0 END) AS BIGINT)
             AS n_true_match,
           CAST(SUM(CASE WHEN bloom_pass AND NOT true_match THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_pos
    FROM flagged
    GROUP BY o_orderstatus
    """,
    tags=("ext", "sketch"),
)
def q_bloom_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter pre-join: hash the dim side (one segment's
    customers) into an m-bit / k-hash bit set, probe every order's
    custkey, and account — per order status — how many orders pass
    the bloom, truly match, and are false positives (bloom semantics:
    zero false negatives, bounded false positives). This is the
    shuffle-elimination pattern for selective joins at 100 TB: the
    bit table is O(m) regardless of dim size and broadcasts to every
    probe task, so the fact table is filtered in its scan stage
    before any join shuffle. Spark's own runtime bloom
    (spark.sql.optimizer.runtime.bloomFilter) does this invisibly;
    here the structure is explicit, inspectable, and oracle-checked.
    The exact semi-join comparison quantifies the FP rate the
    downstream join still has to absorb."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    dim = cust.filter(F.col("c_mktsegment") == BLOOM_SEGMENT).select("c_custkey")
    seeds = F.array(*[F.lit(i + 1) for i in range(BLOOM_HASHES)])

    def bit_of(key_col):
        return (
            _md5_long(
                F.concat(key_col.cast("string"), F.lit("#"), F.col("seed").cast("string"))
            )
            % BLOOM_BITS
        )

    bits = (
        dim.select(F.explode(seeds).alias("seed"), "c_custkey")
        .select(bit_of(F.col("c_custkey")).alias("bit"))
        .distinct()
    )
    probe = (
        orders.select("o_orderkey", "o_custkey", "o_orderstatus")
        .withColumn("seed", F.explode(seeds))
        .withColumn("bit", bit_of(F.col("o_custkey")))
        .join(F.broadcast(bits), "bit")  # bit table ≤ BLOOM_BITS rows
        .groupBy("o_orderkey", "o_custkey", "o_orderstatus")
        .agg(F.count("*").alias("n_hit"))
    )
    flagged = probe.join(
        F.broadcast(dim.withColumnRenamed("c_custkey", "match_key")),
        probe["o_custkey"] == F.col("match_key"),
        "left",
    ).select(
        "o_orderstatus",
        (F.col("n_hit") == BLOOM_HASHES).alias("bloom_pass"),
        F.col("match_key").isNotNull().alias("true_match"),
    )
    return flagged.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.when(F.col("bloom_pass"), 1).otherwise(0)).alias("n_bloom_pass"),
        F.sum(F.when(F.col("true_match"), 1).otherwise(0)).alias("n_true_match"),
        F.sum(
            F.when(F.col("bloom_pass") & ~F.col("true_match"), 1).otherwise(0)
        ).alias("n_false_pos"),
    )


KMV_K = 256          # retained minimum hash values
KMV_SPACE = 1 << 48  # 48-bit hash space (12 md5 hex digits)
KMV_SHARDS = 4       # arbitrary data split for the merge proof
KMV_BAND_PCT = 20    # |est-exact| acceptance band (σ ≈ 1/√(K-2) ≈ 6.3%)


def _kmv_h(col):
    """48-bit md5-derived hash — cross-engine (see dedup._md5_long)."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 12), 16, 10).cast("long")


def _sql_kmv_h(expr: str) -> str:
    return f"(('0x' || substr(md5(CAST({expr} AS VARCHAR)), 1, 12))::BIGINT)"


@register(
    "q_sketch_kmv",
    oracle=f"""
    WITH vals AS (SELECT DISTINCT l_orderkey AS v FROM lineitem),
    h AS (SELECT {_sql_kmv_h('v')} AS h FROM vals),
    kth AS (SELECT max(h) AS hk, CAST(count(*) AS BIGINT) AS k
            FROM (SELECT h FROM h ORDER BY h LIMIT {KMV_K})),
    exact AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM vals),
    shard_h AS (
      SELECT DISTINCT l_suppkey % {KMV_SHARDS} AS shard,
             {_sql_kmv_h('l_orderkey')} AS h
      FROM lineitem),
    shard_kept AS (
      SELECT h FROM (
        SELECT h, ROW_NUMBER() OVER (PARTITION BY shard ORDER BY h) AS rn
        FROM shard_h) WHERE rn <= {KMV_K}),
    merged AS (SELECT max(h) AS hk_merged
               FROM (SELECT DISTINCT h FROM shard_kept ORDER BY h LIMIT {KMV_K}))
    SELECT k, kth_min_hash, est_distinct, exact_distinct,
           abs(est_distinct - exact_distinct) AS abs_err,
           (abs(est_distinct - exact_distinct) * 100
              <= exact_distinct * {KMV_BAND_PCT})     AS within_band,
           merge_exact
    FROM (
      SELECT k.k, k.hk AS kth_min_hash,
             CASE WHEN k.k < {KMV_K} THEN k.k
                  ELSE ({KMV_K - 1} * {KMV_SPACE}) // k.hk
             END                                      AS est_distinct,
             e.n_exact                                AS exact_distinct,
             (m.hk_merged = k.hk)                     AS merge_exact
      FROM kth k, exact e, merged m)
    """,
    tags=("ext", "sketch"),
)
def q_sketch_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values / bottom-k) distinct-count sketch —
    the mergeable distinct estimator whose arithmetic, unlike HLL's,
    is fully replayable cross-engine: keep the K smallest 48-bit md5
    hashes of the distinct values; the K-th minimum h_K estimates
    |D| ≈ (K-1)·2^48 / h_K (Bar-Yossef et al. 2002), here in pure
    BIGINT integer division so Spark and DuckDB agree bit-for-bit.

    Two properties are pinned in the SAME result row: (a) the
    estimate lands within the contract band of the exact distinct
    count, and (b) MERGEABILITY — the corpus is split into 4
    arbitrary overlapping shards (by l_suppkey, NOT by value), each
    shard keeps its own bottom-K, and merging (union → distinct →
    bottom-K) reproduces the global K-th minimum exactly, because a
    shard's value set is a subset of the global set, so every global
    bottom-K hash survives in any shard that contains it.

    Scale: the sketch state is K longs per (shard of the) corpus; the
    global bottom-K is one TakeOrderedAndProject (per-partition top-K
    then a K-row driver merge — no global sort), the per-shard pass
    is a bounded rank-≤K window, and the final row assembles three
    broadcast 1-row frames. This is how COUNT DISTINCT dashboards
    run over 100 TB: per-partition bottom-K partials, K-row merges,
    never a shuffle of the raw values."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    vals = li.select(F.col("l_orderkey").alias("v")).distinct()
    h = vals.select(_kmv_h(F.col("v")).alias("h"))

    kth = (
        h.orderBy("h")
        .limit(KMV_K)
        .agg(F.max("h").alias("hk"), F.count("*").cast("long").alias("k"))
    )
    exact = vals.agg(F.count("*").cast("long").alias("n_exact"))

    shard_h = li.select(
        (F.col("l_suppkey") % KMV_SHARDS).alias("shard"),
        _kmv_h(F.col("l_orderkey")).alias("h"),
    ).distinct()
    w = Window.partitionBy("shard").orderBy("h")
    shard_kept = (
        shard_h.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= KMV_K)
        .select("h")
    )
    merged = (
        shard_kept.distinct()
        .orderBy("h")
        .limit(KMV_K)
        .agg(F.max("h").alias("hk_merged"))
    )

    # standard KMV small-set branch: with fewer than K retained
    # hashes the sketch holds the whole distinct set — return it
    est = F.when(F.col("k") < KMV_K, F.col("k")).otherwise(
        F.expr(f"div({KMV_K - 1}L * {KMV_SPACE}L, hk)")
    )
    return (
        kth.crossJoin(F.broadcast(exact))
        .crossJoin(F.broadcast(merged))
        .select(
            "k",
            F.col("hk").alias("kth_min_hash"),
            est.alias("est_distinct"),
            F.col("n_exact").alias("exact_distinct"),
            F.abs(est - F.col("n_exact")).alias("abs_err"),
            (F.abs(est - F.col("n_exact")) * 100 <= F.col("n_exact") * KMV_BAND_PCT)
            .alias("within_band"),
            (F.col("hk_merged") == F.col("hk")).alias("merge_exact"),
        )
    )


# ── cross-source corpus overlap (KMV Jaccard) ──────────────────────
# The LLM-data question this answers: "how much does dump B repeat
# dump A?" — asked before committing to a full cross-dump dedup pass.
# Exact pairwise Jaccard over gram sets costs a gram join per source
# pair; the KMV form answers from K retained hashes per source
# (mergeable per-partition bottom-K partials — the q_sketch_kmv
# machinery), with the exact join kept beside it as the audited
# error column, sketch-family contract.
OVERLAP_K = 128            # bottom-K hashes retained per source
OVERLAP_BAND_MICRO = 60000 # |est-exact| ≤ 0.06 Jaccard (≈2.5σ at K=128)


def _source_overlap_oracle() -> str:
    from data_wrangler_spark.functions.text import sql_shingles_of, sql_words

    h = _sql_kmv_h("g")
    return f"""
    WITH g AS (
      SELECT DISTINCT source, unnest({sql_shingles_of('w', 3)}) AS g
      FROM (SELECT source, {sql_words('text')} AS w FROM documents)),
    hh AS (SELECT DISTINCT source, {h} AS h FROM g),
    sk AS (
      SELECT source, h FROM (
        SELECT source, h,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn
        FROM hh) WHERE rn <= {OVERLAP_K}),
    prs AS (
      SELECT a.source AS sa, b.source AS sb
      FROM (SELECT DISTINCT source FROM sk) a
      JOIN (SELECT DISTINCT source FROM sk) b ON a.source < b.source),
    u AS (
      SELECT sa, sb, h, MAX(in_a) AS in_a, MAX(in_b) AS in_b FROM (
        SELECT p.sa, p.sb, s.h, 1 AS in_a, 0 AS in_b
        FROM prs p JOIN sk s ON s.source = p.sa
        UNION ALL
        SELECT p.sa, p.sb, s.h, 0, 1
        FROM prs p JOIN sk s ON s.source = p.sb)
      GROUP BY sa, sb, h),
    bk AS (
      SELECT sa, sb, h, in_a, in_b FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY sa, sb ORDER BY h) AS rn
        FROM u) WHERE rn <= {OVERLAP_K}),
    est AS (
      SELECT sa, sb,
             CAST(SUM(in_a * in_b) AS BIGINT) * 1000000
               // CAST(COUNT(*) AS BIGINT)            AS jac_est_micro
      FROM bk GROUP BY sa, sb),
    sz AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM g GROUP BY 1),
    ov AS (
      SELECT a.source AS sa, b.source AS sb, CAST(COUNT(*) AS BIGINT) AS i
      FROM g a JOIN g b ON a.g = b.g AND a.source < b.source
      GROUP BY 1, 2),
    exact AS (
      SELECT p.sa, p.sb,
             COALESCE(o.i, 0) * 1000000
               // (x.n + y.n - COALESCE(o.i, 0))      AS jac_micro
      FROM prs p
      JOIN sz x ON x.source = p.sa
      JOIN sz y ON y.source = p.sb
      LEFT JOIN ov o ON o.sa = p.sa AND o.sb = p.sb)
    SELECT e.sa, e.sb, e.jac_est_micro, x.jac_micro,
           abs(e.jac_est_micro - x.jac_micro)         AS err_micro,
           abs(e.jac_est_micro - x.jac_micro)
             <= {OVERLAP_BAND_MICRO}                  AS within_band
    FROM est e JOIN exact x ON x.sa = e.sa AND x.sb = e.sb
    """


@register(
    "q_source_overlap",
    oracle=_source_overlap_oracle(),
    tags=("llm", "sketch", "dedup"),
)
def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise SOURCE-overlap estimation — KMV bottom-K Jaccard
    (Bar-Yossef et al. / Beyer et al. mergeable-sketch form) over
    each source's distinct word-3-gram shingle set, with the exact
    pairwise Jaccard computed beside it as the audited error (the
    sketch-family contract: estimate + in-band boolean in one row).
    Estimator: keep the K smallest 48-bit md5 hashes per source;
    for a pair, take the K smallest of the union of the two sketches
    and count how many lie in both — that fraction estimates J.
    All-integer arithmetic on the shared md5 family, so DuckDB
    replays the sketch AND the audit bit-for-bit.

    Scale: the sketch is K longs per source, built with one
    rank-≤K window over per-source distinct hashes (per-partition
    bottom-K partials merge, so at 100 TB each source's sketch
    aggregates map-side and only K·|sources| longs ever move). The
    pair stage touches |sources|²/2 × K sketch rows — grid-sized,
    independent of corpus bytes. The EXACT audit side is the only
    corpus-sized join and exists for the correctness gate; the
    production question ("which dump pairs deserve a cross-dedup
    pass?") is answered by the sketch columns alone, from sketches
    that persist beside each ingested dump."""
    from pyspark.sql import Window

    from data_wrangler_spark.functions.distributed import pin, spread
    from data_wrangler_spark.functions.text import shingles_from_words, words

    d = load_table(spark, sf_dir, "documents").select("source", "text")
    g = pin(
        spread(d, "source")
        .select("source", words("text").alias("w"))
        .select("source", F.explode(shingles_from_words(F.col("w"), 3)).alias("g"))
        .distinct()
        .persist()
    )

    hh = g.select("source", _kmv_h(F.col("g")).alias("h")).distinct()
    w_src = Window.partitionBy("source").orderBy("h")
    sk = pin(
        hh.withColumn("rn", F.row_number().over(w_src))
        .filter(F.col("rn") <= OVERLAP_K)
        .select("source", "h")
        .persist()
    )

    srcs = sk.select("source").distinct()
    prs = (
        srcs.select(F.col("source").alias("sa"))
        .join(srcs.select(F.col("source").alias("sb")), F.col("sa") < F.col("sb"))
    )
    e1 = prs.join(sk.withColumnRenamed("source", "sa"), "sa").select(
        "sa", "sb", "h", F.lit(1).alias("in_a"), F.lit(0).alias("in_b")
    )
    e2 = prs.join(sk.withColumnRenamed("source", "sb"), "sb").select(
        "sa", "sb", "h", F.lit(0).alias("in_a"), F.lit(1).alias("in_b")
    )
    u = (
        e1.unionByName(e2)
        .groupBy("sa", "sb", "h")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )
    w_pair = Window.partitionBy("sa", "sb").orderBy("h")
    est = (
        u.withColumn("rn", F.row_number().over(w_pair))
        .filter(F.col("rn") <= OVERLAP_K)
        .groupBy("sa", "sb")
        .agg(
            F.sum(F.col("in_a") * F.col("in_b")).cast("long").alias("_i"),
            F.count("*").cast("long").alias("_ku"),
        )
        .select(
            "sa", "sb", F.expr("div(_i * 1000000, _ku)").alias("jac_est_micro")
        )
    )

    sz = g.groupBy("source").agg(F.count("*").cast("long").alias("n"))
    ga = g.select(F.col("source").alias("sa"), "g")
    gb = g.select(F.col("source").alias("sb"), "g")
    ov = (
        ga.join(gb, ["g"])
        .filter(F.col("sa") < F.col("sb"))
        .groupBy("sa", "sb")
        .agg(F.count("*").cast("long").alias("i"))
    )
    inter = F.coalesce(F.col("i"), F.lit(0).cast("long"))
    exact = (
        prs.join(sz.withColumnRenamed("source", "sa").withColumnRenamed("n", "na"), "sa")
        .join(sz.withColumnRenamed("source", "sb").withColumnRenamed("n", "nb"), "sb")
        .join(ov, ["sa", "sb"], "left")
        .select(
            "sa",
            "sb",
            F.expr(
                "div(coalesce(i, 0L) * 1000000, na + nb - coalesce(i, 0L))"
            ).alias("jac_micro"),
        )
    )
    err = F.abs(F.col("jac_est_micro") - F.col("jac_micro"))
    return est.join(exact, ["sa", "sb"]).select(
        "sa",
        "sb",
        "jac_est_micro",
        "jac_micro",
        err.alias("err_micro"),
        (err <= OVERLAP_BAND_MICRO).alias("within_band"),
    )
