"""Additional LLM-training-pipeline operators: repetition audit,
n-gram LM statistics, temperature-scaled mix weights, hard-negative
mining.

The reference gateway has no corpus tooling at all (its analytic
surface is the SQL routes, SURVEY.md §2.2); these extend the engine's
training-data family (dedup.py / text_analysis.py / pipeline_ops.py /
similarity.py) with four shapes every large pretraining pipeline
runs:

- repetition signals gate low-quality docs (Gopher-style duplicate
  n-gram fractions);
- bigram LM statistics feed tokenizer/vocab decisions and contamination
  heuristics;
- temperature-scaled source weights are the standard multilingual /
  multi-source mixing rule (weights ∝ n^α);
- hard negatives (nearest neighbors with a DIFFERENT label) are the
  fuel of contrastive embedding training.

All four carry exact DuckDB oracles. Cross-engine exactness notes:
integer counts divide as doubles on identical operands (exact);
sqrt is IEEE-correctly-rounded in both engines, and temperature
weights are micro-rounded to integers BEFORE the cross-source sum so
no float summation order can surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from data_wrangler_spark.catalog import load_table
from data_wrangler_spark.functions.text import (
    bigrams_from_words,
    sql_bigrams_of,
    sql_words,
    words,
)
from data_wrangler_spark.functions.vectors import (
    cosine,
    embedding_dim,
    round6,
    sql_cosine,
    sql_round6,
    to_double_array,
)
from data_wrangler_spark.functions.distributed import pin
from data_wrangler_spark.registry import register

REPETITION_DUP_FRAC = 0.2  # Gopher-style duplicate-bigram gate
NGRAM_MIN_COUNT = 3  # LM table support floor
MIX_BUDGET = 100_000  # documents to draw in the mixed sample
HN_N_QUERIES = 5  # hard-negative mining: anchor count
HN_K = 5  # negatives per anchor


@register(
    "q_text_repetition",
    oracle=f"""
    WITH w AS (SELECT doc_id, {sql_words('text')} AS w FROM documents),
    g AS (SELECT doc_id, unnest({sql_bigrams_of('w')}) AS gram FROM w),
    c AS (SELECT doc_id, gram, CAST(COUNT(*) AS BIGINT) AS c
          FROM g GROUP BY 1, 2),
    m AS (SELECT doc_id,
                 CAST(SUM(c) AS BIGINT)   AS n_grams,
                 CAST(COUNT(*) AS BIGINT) AS n_distinct,
                 CAST(MAX(c) AS BIGINT)   AS max_count
          FROM c GROUP BY 1)
    SELECT doc_id, n_grams, n_distinct,
           CAST(n_grams - n_distinct AS DOUBLE) / n_grams AS dup_frac,
           CAST(max_count AS DOUBLE) / n_grams            AS top_frac,
           (CAST(n_grams - n_distinct AS DOUBLE) / n_grams
              > {REPETITION_DUP_FRAC})                    AS is_repetitive
    FROM m
    """,
    tags=("llm", "text", "quality"),
)
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition audit: per document, the fraction of
    word bigrams that are repeats (1 - distinct/total) and the mass
    of the single most frequent bigram — the two signals that catch
    boilerplate and looping text that length/stopword filters miss.
    Pure counting: one (doc, gram) aggregate and one doc aggregate,
    both partial-aggregated map-side; the double divisions run on
    identical integer operands in both engines. Scale: state is one
    row per distinct (doc, bigram) — sharded by doc id, never global;
    docs shorter than 2 words have no bigrams and drop out in both
    engines."""
    from pyspark import StorageLevel

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", words("text").alias("w")
    )
    # bind + persist the gram array before explode: Generate inlines
    # its child per emitted row (see SCALE.md "measured lessons" #2)
    g = pin(
        d.select("doc_id", bigrams_from_words(F.col("w")).alias("grams")).persist(
            StorageLevel.MEMORY_AND_DISK
        )
    )
    c = (
        g.select("doc_id", F.explode("grams").alias("gram"))
        .groupBy("doc_id", "gram")
        .agg(F.count("*").alias("c"))
    )
    m = c.groupBy("doc_id").agg(
        F.sum("c").alias("n_grams"),
        F.count("*").alias("n_distinct"),
        F.max("c").alias("max_count"),
    )
    dup = (F.col("n_grams") - F.col("n_distinct")).cast("double") / F.col("n_grams")
    return m.select(
        "doc_id",
        "n_grams",
        "n_distinct",
        dup.alias("dup_frac"),
        (F.col("max_count").cast("double") / F.col("n_grams")).alias("top_frac"),
        (dup > REPETITION_DUP_FRAC).alias("is_repetitive"),
    )


@register(
    "q_ngram_lm",
    oracle=f"""
    WITH w AS (SELECT doc_id, {sql_words('text')} AS w FROM documents),
    g AS (SELECT unnest({sql_bigrams_of('w')}) AS gram FROM w),
    big AS (
      SELECT string_split(gram, ' ')[1] AS w1,
             string_split(gram, ' ')[2] AS w2,
             CAST(COUNT(*) AS BIGINT) AS c12
      FROM g GROUP BY 1, 2),
    uni AS (
      SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM big GROUP BY 1)
    SELECT b.w1, b.w2, b.c12, u.c1,
           CAST(floor(CAST(b.c12 AS DOUBLE) * 1000000 / u.c1) AS BIGINT)
             AS p_micro
    FROM big b JOIN uni u USING (w1)
    WHERE b.c12 >= {NGRAM_MIN_COUNT}
    """,
    tags=("llm", "text"),
)
def q_ngram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram language-model table: count(w1,w2), the
    continuation total count(w1,·), and the conditional probability
    P(w2|w1) in exact micro-units (floor of a double division whose
    operands are identical integers < 2^53 in both engines — no
    rounding can diverge). The support floor keeps the emitted table
    to grams worth storing. Scale: two aggregates and one join, all
    keyed on w1 — the join reuses the bigram aggregate's hash
    partitioning, and the unigram side is derived from the bigram
    table (one pass over the corpus, not two)."""
    from pyspark import StorageLevel

    d = load_table(spark, sf_dir, "documents").select(words("text").alias("w"))
    g = pin(
        d.select(bigrams_from_words(F.col("w")).alias("grams")).persist(
            StorageLevel.MEMORY_AND_DISK
        )
    )
    big = (
        g.select(F.explode("grams").alias("gram"))
        .select(
            F.split_part(F.col("gram"), F.lit(" "), F.lit(1)).alias("w1"),
            F.split_part(F.col("gram"), F.lit(" "), F.lit(2)).alias("w2"),
        )
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c12"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    pin(big)
    uni = big.groupBy("w1").agg(F.sum("c12").alias("c1"))
    return (
        big.filter(F.col("c12") >= NGRAM_MIN_COUNT)
        .join(uni, "w1")
        .select(
            "w1",
            "w2",
            "c12",
            "c1",
            F.floor(F.col("c12").cast("double") * 1_000_000 / F.col("c1"))
            .cast("long")
            .alias("p_micro"),
        )
    )


@register(
    "q_doc_lm_score",
    oracle=f"""
    WITH w AS (SELECT doc_id, {sql_words('text')} AS w FROM documents),
    g AS (SELECT doc_id, unnest({sql_bigrams_of('w')}) AS gram FROM w),
    bg AS (SELECT doc_id,
                  string_split(gram, ' ')[1] AS w1,
                  string_split(gram, ' ')[2] AS w2
           FROM g),
    big AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
            FROM bg GROUP BY 1, 2),
    uni AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM big GROUP BY 1),
    lp AS (SELECT b.w1, b.w2,
                  CAST(floor(CAST(CAST(
                    ln(CAST(b.c12 AS DOUBLE) / u.c1) AS FLOAT) AS DOUBLE)
                    * 1000000) AS BIGINT) AS lp_micro
           FROM big b JOIN uni u USING (w1)),
    scored AS (
      SELECT bg.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             CAST(SUM(lp.lp_micro) AS BIGINT) AS sum_lp_micro
      FROM bg JOIN lp ON bg.w1 = lp.w1 AND bg.w2 = lp.w2
      GROUP BY 1)
    SELECT doc_id, n_bigrams, sum_lp_micro,
           CAST(floor(CAST(sum_lp_micro AS DOUBLE) / n_bigrams) AS BIGINT)
             AS avg_lp_micro
    FROM scored
    """,
    tags=("llm", "text", "quality"),
)
def q_doc_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM-based document quality score — the 'perplexity filter' of
    pretraining pipelines, self-contained: each document is scored by
    the mean log-probability of its bigrams under the corpus's own
    bigram model (documents full of corpus-typical continuations
    score high; word soup scores low). Exactness: ln runs once per
    DISTINCT bigram on an identical double and squeezes through
    float32 (the q_entropy parity guard) before integer micro
    flooring; per-doc totals are then integer sums — order-free — and
    the mean is floor of one IEEE division. Scale: the scoring join
    is (doc-bigram stream) ⋈ (bigram table) co-keyed on the bigram —
    one shuffle each side; the transcendental runs on the aggregated
    table, never per token."""
    from pyspark import StorageLevel

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", words("text").alias("w")
    )
    g = pin(
        d.select("doc_id", bigrams_from_words(F.col("w")).alias("grams")).persist(
            StorageLevel.MEMORY_AND_DISK
        )
    )
    bg = g.select("doc_id", F.explode("grams").alias("gram")).select(
        "doc_id",
        F.split_part(F.col("gram"), F.lit(" "), F.lit(1)).alias("w1"),
        F.split_part(F.col("gram"), F.lit(" "), F.lit(2)).alias("w2"),
    )
    big = pin(
        bg.groupBy("w1", "w2").agg(F.count("*").alias("c12")).persist(
            StorageLevel.MEMORY_AND_DISK
        )
    )
    uni = big.groupBy("w1").agg(F.sum("c12").alias("c1"))
    lp = big.join(uni, "w1").select(
        "w1",
        "w2",
        F.floor(
            F.log(F.col("c12").cast("double") / F.col("c1"))
            .cast("float")
            .cast("double")
            * 1_000_000
        )
        .cast("long")
        .alias("lp_micro"),
    )
    scored = (
        bg.join(lp, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum("lp_micro").alias("sum_lp_micro"),
        )
    )
    return scored.select(
        "doc_id",
        "n_bigrams",
        "sum_lp_micro",
        F.floor(F.col("sum_lp_micro").cast("double") / F.col("n_bigrams"))
        .cast("long")
        .alias("avg_lp_micro"),
    )


@register(
    "q_cooccurrence_pmi",
    oracle=f"""
    WITH w AS (SELECT {sql_words('text')} AS w FROM documents),
    g AS (SELECT unnest({sql_bigrams_of('w')}) AS gram FROM w),
    big AS (
      SELECT string_split(gram, ' ')[1] AS w1,
             string_split(gram, ' ')[2] AS w2,
             CAST(COUNT(*) AS BIGINT) AS c12
      FROM g GROUP BY 1, 2),
    tot AS (SELECT CAST(SUM(c12) AS BIGINT) AS t FROM big),
    m1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM big GROUP BY 1),
    m2 AS (SELECT w2, CAST(SUM(c12) AS BIGINT) AS c2 FROM big GROUP BY 1)
    SELECT b.w1, b.w2, b.c12,
           CAST(floor(CAST(CAST(
             ln(CAST(b.c12 AS DOUBLE) * tot.t / (m1.c1 * m2.c2))
           AS FLOAT) AS DOUBLE) * 1000000) AS BIGINT) AS pmi_micro
    FROM big b
    JOIN m1 USING (w1) JOIN m2 USING (w2) CROSS JOIN tot
    WHERE b.c12 >= {NGRAM_MIN_COUNT}
    """,
    tags=("llm", "text"),
)
def q_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information over adjacent word pairs — the
    collocation / phrase-mining statistic (PMI = ln(p(w1,w2) /
    (p(w1)·p(w2)))), computed as ln(c12·T / (c1·c2)) on exact 64-bit
    counts. Both marginals and the total derive from the ONE bigram
    aggregate (a single corpus pass); the integer products stay under
    2^53 so the double ratio is bit-identical cross-engine, and ln
    squeezes through float32 (the q_entropy parity guard) before
    micro flooring. Scale: the marginal tables have vocabulary
    cardinality — broadcast joins onto the bigram table; the 1-row
    total is a broadcast cross join; nothing reshuffles the corpus.
    """
    from pyspark import StorageLevel

    d = load_table(spark, sf_dir, "documents").select(words("text").alias("w"))
    g = d.select(F.explode(bigrams_from_words(F.col("w"))).alias("gram"))
    big = pin(
        g.select(
            F.split_part(F.col("gram"), F.lit(" "), F.lit(1)).alias("w1"),
            F.split_part(F.col("gram"), F.lit(" "), F.lit(2)).alias("w2"),
        )
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c12"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    tot = big.agg(F.sum("c12").alias("t"))
    m1 = big.groupBy("w1").agg(F.sum("c12").alias("c1"))
    m2 = big.groupBy("w2").agg(F.sum("c12").alias("c2"))
    return (
        big.filter(F.col("c12") >= NGRAM_MIN_COUNT)
        .join(F.broadcast(m1), "w1")
        .join(F.broadcast(m2), "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "c12",
            F.floor(
                F.log(
                    F.col("c12").cast("double")
                    * F.col("t")
                    / (F.col("c1") * F.col("c2"))
                )
                .cast("float")
                .cast("double")
                * 1_000_000
            )
            .cast("long")
            .alias("pmi_micro"),
        )
    )


@register(
    "q_mix_temperature",
    oracle=f"""
    WITH n AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY 1),
    wt AS (
      SELECT source, n_docs,
             CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000 + 0.5)
                  AS BIGINT) AS w_micro
      FROM n),
    tot AS (SELECT CAST(SUM(w_micro) AS BIGINT) AS tw FROM wt)
    SELECT source, n_docs, w_micro,
           CAST(w_micro AS DOUBLE) / tot.tw AS share,
           CAST(floor(CAST({MIX_BUDGET} AS DOUBLE) * w_micro / tot.tw)
                AS BIGINT) AS target_docs
    FROM wt, tot
    """,
    tags=("llm", "pipeline"),
)
def q_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixing (weights ∝ n^α, the standard
    multilingual/multi-source sampling rule; α = 1/2 here because
    IEEE sqrt is correctly rounded in every engine, making even the
    weights exactly checkable — a general α runs the same plan with
    pow). Per-source weights are micro-rounded to INTEGERS before the
    cross-source total, so no float summation order exists anywhere;
    shares and target document counts divide identical operands.
    Scale: one count per source + a 1-row broadcast total — the plan
    is a scan-side aggregate regardless of corpus size."""
    d = load_table(spark, sf_dir, "documents")
    n = d.groupBy("source").agg(F.count("*").alias("n_docs"))
    wt = n.select(
        "source",
        "n_docs",
        F.floor(F.sqrt(F.col("n_docs").cast("double")) * 1_000_000 + F.lit(0.5))
        .cast("long")
        .alias("w_micro"),
    )
    tot = wt.agg(F.sum("w_micro").alias("tw"))
    return wt.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "w_micro",
        (F.col("w_micro").cast("double") / F.col("tw")).alias("share"),
        F.floor(F.lit(float(MIX_BUDGET)) * F.col("w_micro") / F.col("tw"))
        .cast("long")
        .alias("target_docs"),
    )


VOCAB_TOP_N = 512  # tokenizer-sizing sweep: coverage of the top-N vocab


@register(
    "q_vocab_coverage",
    oracle=f"""
    WITH tok AS (
      SELECT unnest({sql_words('text')}) AS token FROM documents),
    counts AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY 1),
    ranked AS (
      SELECT token, c,
             ROW_NUMBER() OVER (ORDER BY c DESC, token) AS rk
      FROM counts),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_total,
                   CAST(COUNT(*) AS BIGINT) AS n_vocab FROM counts)
    SELECT CAST(v AS BIGINT) AS vocab_size,
           tot.n_vocab AS corpus_vocab,
           tot.n_total AS corpus_tokens,
           (SELECT CAST(SUM(c) AS BIGINT) FROM ranked WHERE rk <= v)
             AS covered_tokens,
           CAST((SELECT SUM(c) FROM ranked WHERE rk <= v) AS DOUBLE)
             / tot.n_total AS coverage
    FROM (SELECT unnest([64, 128, 256, {VOCAB_TOP_N}]) AS v), tot
    """,
    tags=("llm", "text"),
)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-sizing sweep: what fraction of all corpus token
    occurrences does a top-N word vocabulary cover, for several N —
    the curve that decides vocab size before a tokenizer train run.
    One token-count aggregate; the ranked tail is top-VOCAB_TOP_N
    only (orderBy+limit → per-task heaps), then a running sum over
    that tiny frame gives every N's coverage in one pass. Coverage
    divides identical integers in both engines. Scale: the count
    aggregate is the only corpus-sized op; everything after runs on
    ≤ VOCAB_TOP_N rows."""
    d = load_table(spark, sf_dir, "documents").select(words("text").alias("w"))
    tok = d.select(F.explode("w").alias("token"))
    counts = tok.groupBy("token").agg(F.count("*").alias("c"))
    tot = counts.agg(
        F.sum("c").alias("n_total"), F.count("*").alias("n_vocab")
    )
    top = (
        counts.orderBy(F.col("c").desc(), "token")
        .limit(VOCAB_TOP_N)
        .withColumn(
            "rk",
            F.row_number().over(
                Window.orderBy(F.col("c").desc(), "token")
            ),
        )
    )
    sizes = spark.createDataFrame(
        [(v,) for v in (64, 128, 256, VOCAB_TOP_N)], "vocab_size long"
    )
    covered = (
        sizes.join(top, F.col("rk") <= F.col("vocab_size"))
        .groupBy("vocab_size")
        .agg(F.sum("c").alias("covered_tokens"))
    )
    return covered.crossJoin(F.broadcast(tot)).select(
        "vocab_size",
        F.col("n_vocab").alias("corpus_vocab"),
        F.col("n_total").alias("corpus_tokens"),
        "covered_tokens",
        (F.col("covered_tokens").cast("double") / F.col("n_total")).alias(
            "coverage"
        ),
    )


SUBSTR_K = 8  # duplicated-passage gram width (tokens)


@register(
    "q_dedup_substring",
    oracle=f"""
    WITH w AS (SELECT doc_id, {sql_words('text')} AS w FROM documents),
    g AS (
      SELECT doc_id, CAST(i AS BIGINT) AS pos,
             array_to_string(w[i:i + {SUBSTR_K - 1}], ' ') AS gram
      FROM w, LATERAL unnest(range(1, len(w) - {SUBSTR_K - 2})) AS t(i)),
    dup AS (
      SELECT gram FROM (SELECT gram, COUNT(*) AS c FROM g GROUP BY 1)
      WHERE c >= 2),
    d AS (
      SELECT g.doc_id, g.pos,
             g.pos - ROW_NUMBER() OVER (
               PARTITION BY g.doc_id ORDER BY g.pos) AS grp
      FROM g WHERE g.gram IN (SELECT gram FROM dup))
    SELECT doc_id,
           MIN(pos)                                    AS span_start,
           MAX(pos) + {SUBSTR_K} - 1                   AS span_end,
           MAX(pos) - MIN(pos) + {SUBSTR_K}            AS span_tokens
    FROM d GROUP BY doc_id, grp
    """,
    tags=("llm", "dedup", "text"),
)
def q_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-passage detection — the substring-dedup shape
    of Lee et al.'s 'Deduplicating Training Data' applied shingle-
    wise: a token position is duplicated if its SUBSTR_K-token gram occurs
    ≥2 times in the corpus, and maximal runs of consecutive
    duplicated positions merge into spans (gaps-and-islands on the
    position sequence), reported as [span_start, span_end] token
    ranges per document. Suffix arrays find the same spans in one
    pass on one machine; the distributed form trades that for two
    key-bounded shuffles: gram-frequency (the dup set is a semi-join
    — one row per position, no fan-out, hot grams cannot blow up) and
    the per-document island window (partitioned by doc — never
    global). Span arithmetic is pure integers."""
    from pyspark import StorageLevel

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", words("text").alias("w")
    )
    grams = F.transform(
        F.sequence(F.lit(1), F.size("w") - (SUBSTR_K - 1)),
        lambda i: F.struct(
            i.cast("long").alias("pos"),
            F.array_join(F.slice("w", i, SUBSTR_K), " ").alias("gram"),
        ),
    )
    g = (
        # the size filter guards sequence(1, n<1), which would DESCEND;
        # the oracle's range() is exclusive and empties out naturally
        d.filter(F.size("w") >= SUBSTR_K)
        .select("doc_id", F.explode(grams).alias("e"))
        .select("doc_id", "e.pos", "e.gram")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    pin(g)
    dup = (
        g.groupBy("gram")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= 2)
        .select("gram")
    )
    dpos = g.join(dup, "gram", "left_semi")
    w = Window.partitionBy("doc_id").orderBy("pos")
    islands = dpos.withColumn("grp", F.col("pos") - F.row_number().over(w))
    return islands.groupBy("doc_id", "grp").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + SUBSTR_K - 1).alias("span_end"),
        (F.max("pos") - F.min("pos") + SUBSTR_K).alias("span_tokens"),
    ).select("doc_id", "span_start", "span_end", "span_tokens")


@register(
    "q_embed_quantize",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings),
    mm AS (
      SELECT vec_id, label, v,
             list_reduce(v, (a, b) -> least(a, b))    AS lo,
             list_reduce(v, (a, b) -> greatest(a, b)) AS hi
      FROM e),
    q AS (
      SELECT vec_id, label, lo, hi,
             (hi - lo) / 255.0 AS scale,
             list_transform(v, x -> CAST(floor((x - lo) / ((hi - lo) / 255.0)
                                               + 0.5) AS BIGINT)) AS codes,
             v
      FROM mm WHERE hi > lo)
    SELECT vec_id, label,
           CAST(floor(lo * 1000000 + 0.5) AS BIGINT)    AS lo_micro,
           CAST(floor(hi * 1000000 + 0.5) AS BIGINT)    AS hi_micro,
           array_to_string(codes, ',')                  AS codes,
           CAST(floor(list_reduce(
             list_transform(range(1, len(v) + 1),
               i -> abs(v[i] - (lo + codes[i] * ((hi - lo) / 255.0)))),
             (a, b) -> greatest(a, b)) * 1000000 + 0.5) AS BIGINT)
             AS max_err_micro
    FROM q
    """,
    tags=("llm", "embedding"),
)
def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 (asymmetric min/max) quantization — the
    compression every serving-scale vector store applies — plus the
    reconstruction max-error audit that tells you whether recall will
    survive it. All arithmetic is a fixed IEEE expression chain
    (min/max fold, one division, floor-round, absolute residual fold
    with greatest), so codes and error bounds are byte-identical in
    both engines; outputs are micro-units/CSV (harness-safe scalars).
    Scale: pure scan-side expressions — no shuffle, no state; the
    codes column is the 4×-smaller payload downstream ANN stages
    read. Degenerate constant vectors (hi == lo) are dropped
    identically in both engines."""
    e = load_table(spark, sf_dir, "embeddings")
    # lo/hi/scale materialize as COLUMNS before the element lambdas
    # reference them: inlined as expressions (the previous form) the
    # array_min/array_max folds re-evaluate per ELEMENT inside the
    # interpreted higher-order functions — O(d²) per vector instead
    # of O(d) (measured 4.2 s → ~1 s at sf0.1, round 16).
    # CollapseProject leaves the split alone because each alias is a
    # non-cheap expression with multiple uses. Same IEEE expression
    # chain, computed once per row — byte-identical outputs.
    base = e.select(
        "vec_id", "label", to_double_array("embedding").alias("v")
    ).select(
        "vec_id",
        "label",
        "v",
        F.array_min("v").alias("lo"),
        F.array_max("v").alias("hi"),
    ).withColumn("scale", (F.col("hi") - F.col("lo")) / F.lit(255.0))
    lo, hi, scale = F.col("lo"), F.col("hi"), F.col("scale")
    codes = F.transform(
        "v", lambda x: F.floor((x - lo) / scale + F.lit(0.5)).cast("long")
    )
    recon_err = F.zip_with(
        "v", codes, lambda x, c: F.abs(x - (lo + c.cast("double") * scale))
    )
    return (
        base.filter(hi > lo)
        .select(
            "vec_id",
            "label",
            F.floor(lo * 1_000_000 + F.lit(0.5)).cast("long").alias("lo_micro"),
            F.floor(hi * 1_000_000 + F.lit(0.5)).cast("long").alias("hi_micro"),
            F.array_join(F.transform(codes, lambda c: c.cast("string")), ",").alias(
                "codes"
            ),
            F.floor(F.array_max(recon_err) * 1_000_000 + F.lit(0.5))
            .cast("long")
            .alias("max_err_micro"),
        )
    )


@register(
    "q_hard_negatives",
    oracle=f"""
    WITH base AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings),
    q AS (
      SELECT vec_id AS query_id, label AS q_label, e AS qe
      FROM base ORDER BY vec_id LIMIT {HN_N_QUERIES}),
    scored AS (
      SELECT q.query_id, b.vec_id, b.label,
             {sql_round6(sql_cosine('b.e', 'q.qe'))} AS cos_sim
      FROM q JOIN base b ON b.label <> q.q_label),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rk
      FROM scored)
    SELECT query_id, vec_id, label, cos_sim
    FROM ranked WHERE rk <= {HN_K}
    """,
    tags=("llm", "embedding", "similarity"),
)
def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor
    (the first HN_N_QUERIES vectors), the HN_K most-similar vectors
    carrying a DIFFERENT label — maximally confusing negatives. The
    anchor set broadcasts (HN_N_QUERIES rows); the corpus scans once;
    ranking is per-anchor (window PARTITIONED by query_id — K·n rows
    split across anchors, no global sort). Cosines are 1e-6-rounded
    identically in both engines before ranking, and the (cos, vec_id)
    tiebreak makes the top-K deterministic. Scale: at corpus size the
    per-anchor scan becomes the LSH/IVF candidate path
    (q_sim_search_lsh) with the label-mismatch filter applied to
    candidates — same ranking tail."""
    raw = load_table(spark, sf_dir, "embeddings")
    dim = embedding_dim(raw)
    base = raw.select("vec_id", "label", to_double_array("embedding").alias("e"))
    q = (
        base.orderBy("vec_id")
        .limit(HN_N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("label").alias("q_label"),
            F.col("e").alias("qe"),
        )
    )
    scored = (
        base.join(F.broadcast(q), F.col("label") != F.col("q_label"))
        .withColumn("cos_sim", round6(cosine(F.col("e"), F.col("qe"), dim)))
        .select("query_id", "vec_id", "label", "cos_sim")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= HN_K)
        .select("query_id", "vec_id", "label", "cos_sim")
    )


DSIR_B = 1024          # hashed n-gram feature buckets
DSIR_TARGET_LANG = "en"  # the target distribution: English documents


def _dsir_lw_expr(ct, cr, nt, nr):
    """Bucket log-weight in micro-units: floor(float32(ln(
    (ct+1)(nr+B) / ((cr+1)(nt+B)))) · 1e6) — THE smoothed-ratio
    expression, used by the batch census, the unseen-bucket default
    (ct=cr=0), and the streaming gate's weight vector; a drifted copy
    would score stream docs with a different estimator than the batch
    op the oracle replays. Each factor widens to double BEFORE the
    product (mirrored in the oracles): a BIGINT product would
    overflow 2^63 once gram totals reach ~3e9 × counts — reachable at
    the corpus sizes this op targets — while the double product is
    the identical single-rounded value whenever the integer product
    fits, and merely rounds (never traps) beyond."""
    return (
        F.floor(
            F.log(
                ((ct + 1).cast("double") * (nr + DSIR_B).cast("double"))
                / ((cr + 1).cast("double") * (nt + DSIR_B).cast("double"))
            )
            .cast("float")
            .cast("double")
            * 1_000_000
        )
        .cast("long")
        .alias("lw_micro")
    )


def dsir_bucket_stream(
    spark: SparkSession, sf_dir: str, target=None
) -> DataFrame:
    """(doc_id, is_target, bkt): one row per word-bigram occurrence,
    hashed into DSIR_B buckets — the shared feature stream both the
    batch selector and the streaming gate's fit derive from.

    ``target``: boolean Column defining the target distribution;
    default is the language split (lang == DSIR_TARGET_LANG). The
    exemplar variant passes source == DSIR_EXEMPLAR_SOURCE instead —
    the estimator is predicate-generic (Xie et al. §2: the target is
    ANY small exemplar corpus), not a language special case."""
    from data_wrangler_spark.operators.dedup import _md5_long

    if target is None:
        target = F.col("lang") == DSIR_TARGET_LANG
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        target.alias("is_target"),
        words("text").alias("w"),
    )
    return (
        d.select(
            "doc_id",
            "is_target",
            F.explode(bigrams_from_words(F.col("w"))).alias("gram"),
        )
        .select(
            "doc_id",
            "is_target",
            (_md5_long(F.col("gram")) % DSIR_B).alias("bkt"),
        )
    )


def _dsir_census(b: DataFrame):
    """(cb, tot): per-bucket target/raw occurrence counts and the
    1-row corpus totals over a (is_target, bkt) stream."""
    cb = b.groupBy("bkt").agg(
        F.sum(F.when(F.col("is_target"), 1).otherwise(0)).alias("ct"),
        F.sum(F.when(F.col("is_target"), 0).otherwise(1)).alias("cr"),
    )
    tot = cb.agg(F.sum("ct").alias("nt"), F.sum("cr").alias("nr"))
    return cb, tot


def dsir_weight_vector(spark: SparkSession, sf_dir: str, fit_pred) -> list[int]:
    """The FULL DSIR_B-vector of bucket log-weight micro-units, fit on
    the ``fit_pred`` split of the corpus; buckets unseen in the fit
    split carry the smoothing default (_dsir_lw_expr at ct=cr=0). All
    arithmetic runs ENGINE-SIDE (the same expression the batch op
    plans), so the collected ints are the ones the DuckDB oracle
    recomputes. ONE corpus scan: the census collapses to ≤ DSIR_B
    rows which are collected and re-lifted as a local frame, so the
    totals, the seen weights, and the default all derive from that
    bounded frame instead of re-scanning the gram stream per
    consumer (the q_contamination lesson, collect-side form)."""
    cb_rows = (
        dsir_bucket_stream(spark, sf_dir)
        .filter(fit_pred)
        .groupBy("bkt")
        .agg(
            F.sum(F.when(F.col("is_target"), 1).otherwise(0)).alias("ct"),
            F.sum(F.when(F.col("is_target"), 0).otherwise(1)).alias("cr"),
        )
        .collect()
    )
    if not cb_rows:
        raise ValueError(
            "dsir_weight_vector: the fit split is empty — no documents "
            "match fit_pred (or none has >= 2 words), so no target/raw "
            "distribution exists to weight against"
        )
    cb = spark.createDataFrame(cb_rows, "bkt long, ct long, cr long")
    tot = cb.agg(F.sum("ct").alias("nt"), F.sum("cr").alias("nr"))
    seen = (
        cb.crossJoin(F.broadcast(tot))
        .select("bkt", _dsir_lw_expr(F.col("ct"), F.col("cr"), F.col("nt"), F.col("nr")))
        .collect()
    )
    default = tot.select(
        _dsir_lw_expr(F.lit(0), F.lit(0), F.col("nt"), F.col("nr"))
    ).collect()[0]["lw_micro"]
    vec = [int(default)] * DSIR_B
    for r in seen:
        vec[int(r["bkt"])] = int(r["lw_micro"])
    return vec


def _dsir_scored_ctes(target_sql: str | None = None) -> str:
    """The shared oracle CTE chain ending in `scored` (doc_id,
    n_grams, sum_lw_micro) — composed by the batch selector, the
    exemplar-target selector, and the Gumbel resampler so the
    estimator replay cannot drift. ``target_sql``: boolean SQL
    expression over `documents` columns defining the target
    distribution (default: the language split)."""
    from data_wrangler_spark.operators.dedup import _sql_md5_long

    if target_sql is None:
        target_sql = f"lang = '{DSIR_TARGET_LANG}'"
    bkt = f"({_sql_md5_long('gram')} % {DSIR_B})"
    return f"""
    w AS (SELECT doc_id, {target_sql} AS is_target,
                 {sql_words('text')} AS w
          FROM documents),
    g AS (SELECT doc_id, is_target,
                 unnest({sql_bigrams_of('w')}) AS gram
          FROM w),
    b AS (SELECT doc_id, is_target, {bkt} AS bkt FROM g),
    cb AS (SELECT bkt,
                  CAST(SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS BIGINT)
                    AS ct,
                  CAST(SUM(CASE WHEN is_target THEN 0 ELSE 1 END) AS BIGINT)
                    AS cr
           FROM b GROUP BY 1),
    tot AS (SELECT CAST(SUM(ct) AS BIGINT) AS nt,
                   CAST(SUM(cr) AS BIGINT) AS nr
            FROM cb),
    lw AS (SELECT cb.bkt,
                  CAST(floor(CAST(CAST(ln(
                      (CAST(cb.ct + 1 AS DOUBLE) * CAST(tot.nr + {DSIR_B} AS DOUBLE))
                    / (CAST(cb.cr + 1 AS DOUBLE) * CAST(tot.nt + {DSIR_B} AS DOUBLE))
                  ) AS FLOAT) AS DOUBLE) * 1000000) AS BIGINT) AS lw_micro
           FROM cb CROSS JOIN tot),
    scored AS (SELECT b.doc_id,
                      CAST(COUNT(*) AS BIGINT) AS n_grams,
                      CAST(SUM(lw.lw_micro) AS BIGINT) AS sum_lw_micro
               FROM b JOIN lw USING (bkt) GROUP BY 1)"""


def _dsir_scored(spark: SparkSession, sf_dir: str, target=None) -> DataFrame:
    """Spark mirror of the oracle's `scored` CTE: (doc_id, n_grams,
    sum_lw_micro) over the whole corpus — the estimator frame the
    selectors and the resampler build on."""
    from pyspark import StorageLevel

    # bind + persist the bucket stream: it feeds BOTH the bucket
    # census and the per-doc scoring pass (the q_contamination lesson:
    # an unpinned shared explode recomputes the scan per consumer)
    b = pin(
        dsir_bucket_stream(spark, sf_dir, target=target).persist(
            StorageLevel.MEMORY_AND_DISK
        )
    )
    cb, tot = _dsir_census(b)
    lw = cb.crossJoin(F.broadcast(tot)).select(
        "bkt",
        _dsir_lw_expr(F.col("ct"), F.col("cr"), F.col("nt"), F.col("nr")),
    )
    return (
        b.join(F.broadcast(lw), "bkt")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum("lw_micro").alias("sum_lw_micro"),
        )
    )


def _dsir_oracle() -> str:
    return f"""
    WITH {_dsir_scored_ctes()}
    SELECT s.doc_id, d.lang = '{DSIR_TARGET_LANG}' AS is_target,
           s.n_grams, s.sum_lw_micro,
           CAST(floor(CAST(s.sum_lw_micro AS DOUBLE) / s.n_grams) AS BIGINT)
             AS avg_lw_micro,
           (CAST(floor(CAST(s.sum_lw_micro AS DOUBLE) / s.n_grams) AS BIGINT)
             > 0) AS selected
    FROM scored s JOIN documents d USING (doc_id)
    """


@register("q_dsir_select", oracle=_dsir_oracle(), tags=("llm", "text", "selection"))
def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every document
    by its hashed-n-gram importance weight toward a target
    distribution — here the corpus's own English split — and flag the
    documents whose mean log-weight says "more target-like than
    raw-like". Features are word bigrams hashed into DSIR_B buckets
    (the paper's hashed n-gram estimator); bucket log-weights are
    ln(p_target/p_raw) under add-one smoothing. The reference gateway
    has no selection tooling (SURVEY §2.2 — its analytics end at the
    SQL routes); this extends the llm_extras selection family
    (q_mix_temperature draws BETWEEN sources, this scores WITHIN the
    corpus toward a style).

    Exactness: bucket counts are exact integers; the smoothed ratio's
    four factors each widen to double exactly (counts and corpus
    totals < 2^53), and the two products + one quotient are three
    IEEE ops identical in both engines (factor-wise, never a BIGINT
    product — see _dsir_lw_expr on the 2^63 overflow this avoids);
    ln runs once per BUCKET (≤ DSIR_B rows, never per gram) and
    squeezes through float32 (the q_entropy parity guard) before
    micro-flooring; per-doc totals are then order-free integer sums.
    Docs under 2 words have no features and drop in both engines.

    Scale: the gram stream aggregates to ≤ DSIR_B bucket rows
    (map-side partials — the shuffle moves ≤ tasks × DSIR_B rows, not
    data), the two corpus totals ride the same tiny table, and the
    weight table broadcasts back onto the stream; the only data-sized
    exchange is the per-doc score aggregate, partial-combined on
    doc_id. Selection is a pure per-row predicate (avg weight > 0) —
    no global sort, unlike top-k selection, so the plan is one
    pass + one bounded side-channel at any corpus size."""
    scored = _dsir_scored(spark, sf_dir)
    avg = F.floor(
        F.col("sum_lw_micro").cast("double") / F.col("n_grams")
    ).cast("long")
    flags = load_table(spark, sf_dir, "documents").select(
        "doc_id", (F.col("lang") == DSIR_TARGET_LANG).alias("is_target")
    )
    return (
        scored.join(flags, "doc_id")
        .select(
            "doc_id",
            "is_target",
            "n_grams",
            "sum_lw_micro",
            avg.alias("avg_lw_micro"),
            (avg > 0).alias("selected"),
        )
    )


DSIR_EXEMPLAR_SOURCE = "src0"  # the exemplar corpus: the eval slice
# (the q_contamination convention — pipeline_ops.CONTAM_EVAL_SOURCE)


def _dsir_exemplar_oracle() -> str:
    target = f"source = '{DSIR_EXEMPLAR_SOURCE}'"
    return f"""
    WITH {_dsir_scored_ctes(target_sql=target)}
    SELECT s.doc_id, d.source = '{DSIR_EXEMPLAR_SOURCE}' AS is_target,
           s.n_grams, s.sum_lw_micro,
           CAST(floor(CAST(s.sum_lw_micro AS DOUBLE) / s.n_grams) AS BIGINT)
             AS avg_lw_micro,
           (CAST(floor(CAST(s.sum_lw_micro AS DOUBLE) / s.n_grams) AS BIGINT)
             > 0) AS selected
    FROM scored s JOIN documents d USING (doc_id)
    """


@register(
    "q_dsir_select_exemplar",
    oracle=_dsir_exemplar_oracle(),
    tags=("llm", "text", "selection"),
)
def q_dsir_select_exemplar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR selection fit on an EXEMPLAR SET (VERDICT r15 #4) — the
    paper's production use: the target distribution is a small
    high-quality exemplar corpus, not a language split. Here the
    exemplar is the held-out eval slice (source = src0, the
    q_contamination convention) and raw is everything else; the
    estimator machinery (_dsir_scored / _dsir_lw_expr), the micro-
    unit arithmetic, and the oracle CTE chain are IDENTICAL to
    q_dsir_select with only the target predicate swapped — proving
    the estimator is predicate-generic, not a lang special case
    (tests/test_llm_extras.py pins a document the two fits disagree
    on). Same exactness and scale arguments as q_dsir_select: the
    only data-sized exchange is the per-doc score aggregate; the
    census collapses to ≤ DSIR_B rows and the weight table broadcasts
    back onto the gram stream."""
    target = F.col("source") == DSIR_EXEMPLAR_SOURCE
    scored = _dsir_scored(spark, sf_dir, target=target)
    avg = F.floor(
        F.col("sum_lw_micro").cast("double") / F.col("n_grams")
    ).cast("long")
    flags = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("source") == DSIR_EXEMPLAR_SOURCE).alias("is_target"),
    )
    return (
        scored.join(flags, "doc_id")
        .select(
            "doc_id",
            "is_target",
            "n_grams",
            "sum_lw_micro",
            avg.alias("avg_lw_micro"),
            (avg > 0).alias("selected"),
        )
    )


DSIR_SAMPLE_K = 64  # resample budget (documents drawn)


def _dsir_resample_oracle() -> str:
    from data_wrangler_spark.operators.dedup import _sql_md5_long

    h = _sql_md5_long("CAST(doc_id AS VARCHAR)", 7)
    u = f"(CAST(({h} >> 7) + 1 AS DOUBLE) / 18014398509481984.0)"
    g = (
        f"CAST(floor(CAST(CAST(-ln(CAST(CAST(-ln({u}) AS FLOAT) AS DOUBLE))"
        f" AS FLOAT) AS DOUBLE) * 1000000) AS BIGINT)"
    )
    return f"""
    WITH {_dsir_scored_ctes()},
    gum AS (SELECT doc_id, sum_lw_micro, {g} AS gumbel_micro FROM scored),
    ranked AS (SELECT doc_id, sum_lw_micro, gumbel_micro,
                      sum_lw_micro + gumbel_micro AS key_micro,
                      ROW_NUMBER() OVER (
                        ORDER BY sum_lw_micro + gumbel_micro DESC, doc_id)
                        AS rk
               FROM gum)
    SELECT doc_id, sum_lw_micro, gumbel_micro, key_micro,
           CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= {DSIR_SAMPLE_K}
    """


@register(
    "q_dsir_resample",
    oracle=_dsir_resample_oracle(),
    tags=("llm", "text", "selection"),
)
def q_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The resampling half of DSIR (Xie et al. 2023 §3: sample
    ∝ importance weight, WITHOUT replacement) — completing
    q_dsir_select, whose threshold flag is the paper's scoring half.
    Sampling ∝ exp(log w) without replacement IS Gumbel top-k
    (Vieira 2014): draw g_i ~ Gumbel(0,1), take the top K by
    log w_i + g_i. Here the Gumbel draw is DERANDOMIZED the way every
    sampling op in this repo is (q_sample_hash's doctrine): u_i is a
    seeded md5 of the doc_id — the top 53 bits of the 60-bit hash,
    +1, over 2^54, so u ∈ (0, 1/2] is an EXACT double in both engines
    and -ln(-ln(u)) never hits a pole. Each of the two transcendental
    hops squeezes through float32 before the next (one squeeze per
    ln — the composed ln∘ln would otherwise double any last-ulp libm
    divergence instead of absorbing it); the floored micro result is
    then pure integer arithmetic. Output: the K drawn docs with
    their weight, noise, key, and rank.

    Scale: the estimator frame is q_dsir_select's (one bounded bucket
    census + one per-doc aggregate); the draw adds a per-row
    expression and a global top-K — orderBy+limit, i.e. per-task
    heaps of K rows merged on the driver, never a global sort; the
    rank window then runs on K rows only. The whole op moves O(K)
    rows beyond the scoring aggregate at any corpus size."""
    from data_wrangler_spark.operators.dedup import _md5_long

    scored = _dsir_scored(spark, sf_dir)
    h = _md5_long(F.col("doc_id").cast("string"), seed=7)
    u = (F.shiftright(h, 7) + 1).cast("double") / F.lit(float(1 << 54))
    nl = (-F.log(u)).cast("float").cast("double")
    g = F.floor((-F.log(nl)).cast("float").cast("double") * 1_000_000).cast(
        "long"
    )
    keyed = scored.select(
        "doc_id",
        "sum_lw_micro",
        g.alias("gumbel_micro"),
        (F.col("sum_lw_micro") + g).alias("key_micro"),
    )
    top = keyed.orderBy(F.desc("key_micro"), "doc_id").limit(DSIR_SAMPLE_K)
    w = Window.orderBy(F.desc("key_micro"), "doc_id")
    return top.withColumn("rk", F.row_number().over(w).cast("long"))
