"""Text-analysis operators for training-data pipelines (north star).

Language-ID (marker-word heuristic), quality scoring, token counting
(whitespace + BPE-ish regex), and document fingerprinting (md5 +
rolling polynomial hash) over the `documents` table. All pure Column
expressions — at 100 TB these run as a single scan with no shuffle
(fingerprint dup-grouping shuffles only the 16-byte digest).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from data_wrangler_spark.catalog import load_table
from data_wrangler_spark.functions.distributed import (
    pin,
    release_local_checkpoint,
)
from data_wrangler_spark.functions.text import (
    TOKEN_REGEX,
    occurrence_count,
    sql_occurrence_count,
    sql_words,
    words,
)
from data_wrangler_spark.registry import register


@register(
    "q_text_stats",
    oracle=f"""
    SELECT doc_id, lang, n_chars,
           CAST(len({sql_words('text')}) AS INT) AS n_words,
           CAST(length(replace(text, ' ', '')) AS DOUBLE)
             / len({sql_words('text')})          AS avg_word_len,
           CAST({sql_occurrence_count('text', ' a ')} AS DOUBLE)  AS n_article_a,
           CAST(length(text) - length(replace(text, ' ', '')) AS INT) AS n_spaces,
           (n_chars >= 100 AND len({sql_words('text')}) >= 20)    AS passes_quality
    FROM documents
    """,
    tags=("llm", "text"),
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality statistics: word count, mean word length,
    article frequency, whitespace count, and a min-length quality
    gate — the standard pre-training corpus filters."""
    d = load_table(spark, sf_dir, "documents")
    w = words("text")
    return d.select(
        "doc_id",
        "lang",
        "n_chars",
        F.size(w).alias("n_words"),
        (
            F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double")
            / F.size(w)
        ).alias("avg_word_len"),
        occurrence_count("text", " a ").cast("double").alias("n_article_a"),
        (F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))).alias(
            "n_spaces"
        ),
        ((F.col("n_chars") >= 100) & (F.size(w) >= 20)).alias("passes_quality"),
    )


_MARKERS = {"en": " the ", "fr": " le ", "de": " der ", "es": " el "}


def _lang_oracle() -> str:
    counts = ",\n           ".join(
        f"CAST({sql_occurrence_count('text', m)} AS DOUBLE) AS cnt_{lang}"
        for lang, m in _MARKERS.items()
    )
    # argmax by count, ties broken by marker order, all-zero → 'und'
    cond = "CASE "
    for lang in _MARKERS:
        others = " AND ".join(
            f"cnt_{lang} >= cnt_{o}" for o in _MARKERS if o != lang
        )
        cond += f"WHEN cnt_{lang} > 0 AND {others} THEN '{lang}' "
    cond += "ELSE 'und' END"
    return f"""
    SELECT doc_id, lang, {cond} AS lang_pred, cnt_en, cnt_fr, cnt_de, cnt_es
    FROM (SELECT doc_id, lang,
           {counts}
          FROM documents)
    """


@register("q_text_lang", oracle=_lang_oracle(), tags=("llm", "text"))
def q_text_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram-style language ID: count per-language marker stopwords,
    argmax with deterministic tie-breaking ('und' when no marker
    fires). The marker table extends without code change; at scale
    this is one scan, zero shuffles."""
    d = load_table(spark, sf_dir, "documents")
    cnt = {
        lang: occurrence_count("text", m).cast("double")
        for lang, m in _MARKERS.items()
    }
    # CASE chain in marker order: first matching language wins ties
    chain = None
    for lang in _MARKERS:
        cond = (cnt[lang] > 0)
        for other in _MARKERS:
            if other != lang:
                cond = cond & (cnt[lang] >= cnt[other])
        chain = F.when(cond, F.lit(lang)) if chain is None else chain.when(cond, F.lit(lang))
    pred = chain.otherwise(F.lit("und"))
    return d.select(
        "doc_id",
        "lang",
        pred.alias("lang_pred"),
        *[cnt[lang].alias(f"cnt_{lang}") for lang in _MARKERS],
    )


@register(
    "q_text_tokens",
    oracle=f"""
    SELECT doc_id,
           CAST(len({sql_words('text')}) AS INT)                         AS n_ws_tokens,
           CAST(len(regexp_extract_all(text, '{TOKEN_REGEX}')) AS INT)   AS n_bpe_tokens,
           CAST(len(list_distinct(regexp_extract_all(text, '{TOKEN_REGEX}'))) AS INT)
                                                                          AS n_unique_tokens,
           CAST(n_chars AS DOUBLE) / len(regexp_extract_all(text, '{TOKEN_REGEX}'))
                                                                          AS chars_per_token
    FROM documents
    """,
    tags=("llm", "text"),
)
def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace tokens and a BPE-ish regex
    tokenizer (letter runs / digit runs / single punctuation) — the
    cheap proxy for LLM token budgeting at corpus scale."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(F.col("text"), F.lit(TOKEN_REGEX), 0)
    return d.select(
        "doc_id",
        F.size(words("text")).alias("n_ws_tokens"),
        F.size(toks).alias("n_bpe_tokens"),
        F.size(F.array_distinct(toks)).alias("n_unique_tokens"),
        (F.col("n_chars").cast("double") / F.size(toks)).alias("chars_per_token"),
    )


@register(
    "q_text_fingerprint",
    oracle=f"""
    WITH fp AS (
      SELECT doc_id,
             md5(lower(trim(text))) AS fingerprint,
             list_reduce(
               list_prepend(CAST(7 AS BIGINT),
                 list_transform({sql_words('lower(text)')},
                                w -> CAST(length(w) AS BIGINT))),
               (acc, x) -> (acc * 31 + x) % 1000000007) AS rolling_hash
      FROM documents)
    SELECT doc_id, fingerprint, rolling_hash,
           CAST(COUNT(*) OVER (PARTITION BY fingerprint) AS BIGINT) AS n_copies
    FROM fp
    """,
    tags=("llm", "text"),
    mod=1000000007,
)
def q_text_fingerprint(
    spark: SparkSession, sf_dir: str, mod: int
) -> DataFrame:
    """Document fingerprinting: md5 of normalized text (exact-dup
    key) + a rolling polynomial hash folded over word lengths
    (order-sensitive, modular to avoid bigint overflow — DuckDB
    raises on overflow where Spark wraps; the modulus is the
    serving-template parameter, default the oracle's 1e9+7).
    n_copies counts the fingerprint's cluster size."""
    d = load_table(spark, sf_dir, "documents")
    rolling = F.aggregate(
        words(F.lower(F.col("text"))),
        F.lit(7).cast("long"),
        lambda acc, w: (acc * 31 + F.length(w)) % int(mod),
    )
    return d.select(
        "doc_id",
        F.md5(F.lower(F.trim(F.col("text")))).alias("fingerprint"),
        rolling.alias("rolling_hash"),
    ).withColumn(
        "n_copies", F.count("*").over(Window.partitionBy("fingerprint"))
    )


@register(
    "q_regex_extract",
    oracle="""
    WITH toks AS (
      SELECT unnest(regexp_extract_all(text, '[a-z]{5,}')) AS token
      FROM documents),
    counted AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS n FROM toks GROUP BY 1)
    SELECT token, n FROM counted WHERE n >= 10
    """,
    tags=("ext", "text"),
)
def q_regex_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex token mining: extract all ≥5-letter word matches from
    every document, count occurrences corpus-wide, keep tokens above
    a support floor. The pattern is anchored to a class both regex
    engines (Java util.regex, RE2) treat identically — no
    backreferences, no lookaround — which is also the subset that
    stays cheap at scale. Plan: scan → generate (explode) → one
    hash-agg shuffle on token; the support floor cuts the long tail
    before any further processing."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.regexp_extract_all("text", F.lit("[a-z]{5,}"), 0)).alias("token")
    )
    return (
        toks.groupBy("token")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 10)
    )


# Gopher-style rule thresholds (Rae et al. 2021, table A1 — the
# public pre-training quality-filter recipe), adapted to this corpus
GOPHER_MIN_WORDS = 20
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WLEN = 3.0
GOPHER_MAX_MEAN_WLEN = 10.0
GOPHER_MAX_SHORT_FRAC = 0.8   # fraction of words with ≤ 3 chars
GOPHER_MIN_STOPWORD_HITS = 2  # distinct marker stopwords present
GOPHER_STOPWORDS = ("the", "a", "and", "to", "of", "in", "is", "that")


@register(
    "q_quality_gopher",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, {sql_words('text')} AS w FROM documents),
    m AS (
      SELECT doc_id, lang,
             CAST(len(w) AS INT) AS n_words,
             CAST(len(array_to_string(w, '')) AS DOUBLE) / len(w) AS mean_wlen,
             CAST(len(list_filter(w, x -> length(x) <= 3)) AS DOUBLE) / len(w)
               AS short_frac,
             CAST({' + '.join(f"CAST(list_contains(w, '{s}') AS INT)" for s in GOPHER_STOPWORDS)}
               AS INT) AS stopword_hits
      FROM t)
    SELECT doc_id, lang, n_words, mean_wlen, short_frac, stopword_hits,
           n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
             AS ok_words,
           mean_wlen BETWEEN {GOPHER_MIN_MEAN_WLEN} AND {GOPHER_MAX_MEAN_WLEN}
             AS ok_wlen,
           short_frac <= {GOPHER_MAX_SHORT_FRAC}        AS ok_short,
           stopword_hits >= {GOPHER_MIN_STOPWORD_HITS}  AS ok_stop,
           (n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS})
             AND (mean_wlen BETWEEN {GOPHER_MIN_MEAN_WLEN} AND {GOPHER_MAX_MEAN_WLEN})
             AND short_frac <= {GOPHER_MAX_SHORT_FRAC}
             AND stopword_hits >= {GOPHER_MIN_STOPWORD_HITS} AS passes
    FROM m
    """,
    tags=("llm", "text", "quality"),
)
def q_quality_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style composite quality filter (Rae et al. 2021): word
    count bounds, mean word length bounds, short-word-fraction cap,
    and a stopword-presence floor — each rule reported separately
    (the audit shape: you tune thresholds by inspecting per-rule
    failure rates before filtering 100 TB). Pure column expressions
    over one scan — no shuffle, no Python; at scale this runs fused
    into the corpus's first projection pass, and `passes` becomes the
    partition predicate of the filtered write."""
    d = load_table(spark, sf_dir, "documents")
    w = F.col("w")
    base = d.select("doc_id", "lang", words("text").alias("w"))
    mean_wlen = (
        F.length(F.array_join(w, "")).cast("double") / F.size(w)
    )
    short_frac = (
        F.size(F.filter(w, lambda x: F.length(x) <= 3)).cast("double") / F.size(w)
    )
    stopword_hits = sum(
        F.array_contains(w, s).cast("int") for s in GOPHER_STOPWORDS
    ).cast("int")
    m = base.select(
        "doc_id",
        "lang",
        F.size(w).alias("n_words"),
        mean_wlen.alias("mean_wlen"),
        short_frac.alias("short_frac"),
        stopword_hits.alias("stopword_hits"),
    )
    ok_words = F.col("n_words").between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
    ok_wlen = F.col("mean_wlen").between(GOPHER_MIN_MEAN_WLEN, GOPHER_MAX_MEAN_WLEN)
    ok_short = F.col("short_frac") <= GOPHER_MAX_SHORT_FRAC
    ok_stop = F.col("stopword_hits") >= GOPHER_MIN_STOPWORD_HITS
    return m.select(
        "*",
        ok_words.alias("ok_words"),
        ok_wlen.alias("ok_wlen"),
        ok_short.alias("ok_short"),
        ok_stop.alias("ok_stop"),
        (ok_words & ok_wlen & ok_short & ok_stop).alias("passes"),
    )



# Gopher repetition-rule thresholds (Rae et al. 2021, table A1's
# repetition family — the rules q_quality_gopher's word-stat family
# doesn't cover), calibrated to this corpus (see SCALE note)
REP_MAX_DUP_WORD = 0.65  # fraction of words that are repeats
REP_MAX_TOP2 = 0.10      # chars in the most frequent word 2-gram
REP_MAX_DUP3 = 0.05      # fraction of 3-gram slots that are repeats


def _repetition_oracle() -> str:
    g3 = ("list_transform(range(1, len(w) - 1), "
          "i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])")
    from data_wrangler_spark.functions.text import sql_bigrams_of, sql_words

    return f"""
    WITH t AS (SELECT doc_id, {sql_words('text')} AS w FROM documents),
    g AS (SELECT doc_id, w, {sql_bigrams_of('w')} AS g2, {g3} AS g3 FROM t),
    stats AS (
      SELECT doc_id,
             CAST(len(w) AS INT) AS n_words,
             CASE WHEN len(w) > 0
                  THEN CAST(len(w) - len(list_distinct(w)) AS DOUBLE) / len(w)
                  ELSE 0.0 END AS dup_word_frac,
             CAST(len(array_to_string(w, '')) AS BIGINT) AS n_letters,
             CASE WHEN len(g3) > 0
                  THEN CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE) / len(g3)
                  ELSE 0.0 END AS dup3_frac
      FROM g),
    e2 AS (SELECT doc_id, unnest(g2) AS gram FROM g),
    c AS (SELECT doc_id, gram, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM e2 GROUP BY 1, 2),
    top AS (
      SELECT doc_id, gram AS top2_gram, cnt AS top2_cnt
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                         ORDER BY cnt DESC, gram) AS rn
            FROM c)
      WHERE rn = 1),
    f AS (
      SELECT s.doc_id, s.n_words, s.dup_word_frac,
             COALESCE(t.top2_gram, '') AS top2_gram,
             CASE WHEN s.n_letters > 0 AND t.top2_cnt IS NOT NULL
                  THEN CAST(t.top2_cnt * len(replace(t.top2_gram, ' ', ''))
                            AS DOUBLE) / s.n_letters
                  ELSE 0.0 END AS top2_char_frac,
             s.dup3_frac
      FROM stats s LEFT JOIN top t ON t.doc_id = s.doc_id)
    SELECT doc_id, n_words, dup_word_frac, top2_gram, top2_char_frac,
           dup3_frac,
           dup_word_frac <= {REP_MAX_DUP_WORD} AS ok_dup_word,
           top2_char_frac <= {REP_MAX_TOP2} AS ok_top2,
           dup3_frac <= {REP_MAX_DUP3} AS ok_dup3,
           dup_word_frac <= {REP_MAX_DUP_WORD}
             AND top2_char_frac <= {REP_MAX_TOP2}
             AND dup3_frac <= {REP_MAX_DUP3} AS passes
    FROM f
    """


@register(
    "q_quality_repetition",
    oracle=_repetition_oracle(),
    tags=("llm", "text", "quality"),
)
def q_quality_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher REPETITION filters (Rae et al. 2021, table A1) — the
    half of the published recipe q_quality_gopher's word-stat rules
    leave uncovered: machine-generated and boilerplate text passes
    length/stopword checks while repeating itself. Three per-doc
    signals, each with its own audit flag: duplicate-word fraction
    (1 − distinct/total), the character share of the most frequent
    word 2-gram (tie → lexicographically smallest, so the report is
    deterministic), and the duplicate fraction of 3-gram slots.

    Scale: the duplicate fractions are single-pass array expressions
    on the scan; the top-2-gram goes explode → (doc, gram) partial
    agg → per-doc ROW_NUMBER, i.e. ONE gram-keyed shuffle of
    (doc_id, gram) pairs and a doc-keyed join back — the interpreted
    O(distinct × n) per-row lambda alternative measured 69 s warm at
    sf0.1 vs ~3 s for this shape, and a doc-length cap bounds the
    explode fan-out at 100 TB exactly as it does for the shingle
    family."""
    from data_wrangler_spark.functions.text import bigrams_from_words

    d = load_table(spark, sf_dir, "documents")
    w = F.col("w")
    g3 = F.when(F.size(w) < 3, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size(w) - 2),
            lambda i: F.concat_ws(
                " ",
                F.element_at(w, i),
                F.element_at(w, i + 1),
                F.element_at(w, i + 2),
            ),
        )
    )
    base = pin(
        d.select("doc_id", words("text").alias("w"))
        .select("doc_id", "w", bigrams_from_words(w).alias("g2"), g3.alias("g3"))
        .persist()
    )
    stats = base.select(
        "doc_id",
        F.size(w).alias("n_words"),
        F.when(
            F.size(w) > 0,
            (F.size(w) - F.size(F.array_distinct(w))).cast("double")
            / F.size(w),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_word_frac"),
        F.length(F.array_join(w, "")).cast("long").alias("n_letters"),
        F.when(
            F.size(F.col("g3")) > 0,
            (F.size(F.col("g3")) - F.size(F.array_distinct(F.col("g3"))))
            .cast("double")
            / F.size(F.col("g3")),
        )
        .otherwise(F.lit(0.0))
        .alias("dup3_frac"),
    )
    c = (
        base.select("doc_id", F.explode("g2").alias("gram"))
        .groupBy("doc_id", "gram")
        .agg(F.count("*").alias("cnt"))
    )
    top = (
        c.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy(
                    F.desc("cnt"), F.asc("gram")
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            F.col("gram").alias("_t2g"),
            F.col("cnt").alias("top2_cnt"),
        )
    )
    f = stats.join(top, "doc_id", "left").select(
        "doc_id",
        "n_words",
        "dup_word_frac",
        F.coalesce(F.col("_t2g"), F.lit("")).alias("top2_gram"),
        F.when(
            (F.col("n_letters") > 0) & F.col("top2_cnt").isNotNull(),
            (
                F.col("top2_cnt")
                * F.length(F.replace(F.col("_t2g"), F.lit(" "), F.lit("")))
            ).cast("double")
            / F.col("n_letters"),
        )
        .otherwise(F.lit(0.0))
        .alias("top2_char_frac"),
        "dup3_frac",
    )
    ok_dw = F.col("dup_word_frac") <= REP_MAX_DUP_WORD
    ok_t2 = F.col("top2_char_frac") <= REP_MAX_TOP2
    ok_d3 = F.col("dup3_frac") <= REP_MAX_DUP3
    return f.select(
        "*",
        ok_dw.alias("ok_dup_word"),
        ok_t2.alias("ok_top2"),
        ok_d3.alias("ok_dup3"),
        (ok_dw & ok_t2 & ok_d3).alias("passes"),
    )


ENTROPY_MIN_BITS = 4.0  # a-z unigram entropy floor (corpus-calibrated)
_ALPHABET = "abcdefghijklmnopqrstuvwxyz"


def _entropy_oracle() -> str:
    from data_wrangler_spark.functions.text import sql_words
    from data_wrangler_spark.functions.vectors import sql_round6

    terms = " + ".join(
        f"CASE WHEN n - len(replace(s, '{ch}', '')) > 0 THEN "
        f"(CAST(n - len(replace(s, '{ch}', '')) AS DOUBLE) / n) * "
        f"log2(CAST(n - len(replace(s, '{ch}', '')) AS DOUBLE) / n) "
        f"ELSE 0.0 END"
        for ch in _ALPHABET
    )
    return f"""
    WITH t AS (SELECT doc_id, {sql_words('text')} AS w FROM documents),
    j AS (SELECT doc_id, array_to_string(w, '') AS s,
                 CAST(len(array_to_string(w, '')) AS BIGINT) AS n
          FROM t)
    SELECT doc_id, n AS n_letters,
           CASE WHEN n > 0 THEN {sql_round6(f"-({terms})")} ELSE 0.0 END
             AS entropy_bits,
           CASE WHEN n > 0 THEN {sql_round6(f"-({terms})")} ELSE 0.0 END
             >= {ENTROPY_MIN_BITS} AS ok_entropy
    FROM j
    """


@register(
    "q_text_entropy",
    oracle=_entropy_oracle(),
    tags=("llm", "text", "quality"),
)
def q_text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-unigram ENTROPY (bits) — the cheapest
    published gibberish/boilerplate detector: low-entropy docs are
    repeated characters or tiny alphabets, high entropy near
    log2(26) ≈ 4.70 is healthy prose. Counting uses the replace-
    length trick (occurrence_count's formulation) over the 26-letter
    alphabet, so the whole histogram is codegen string arithmetic —
    26 replace+length pairs on ONE projected join of the words array,
    no explode, no shuffle, no UDF; the DuckDB oracle replays the
    identical expression tree and the shared log2 is rounded at 1e-6
    on both sides. At 100 TB this is scan-fused like the other
    quality ops, and entropy_bits joins the per-rule audit columns
    feeding the filter decision."""
    from data_wrangler_spark.functions.vectors import round6

    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id", F.array_join(words("text"), "").alias("s")
    ).select("doc_id", "s", F.length("s").cast("long").alias("n"))
    n = F.col("n")

    # counts MATERIALIZED as columns in their own projection (the r16
    # q_embed_quantize lesson, guide §1.2 per-task work): inlined,
    # each character's length(replace(s, ch, '')) was evaluated THREE
    # times per row — in the >0 guard and twice in the term — 78 full-
    # string replaces per document instead of 26. CollapseProject
    # cannot re-inline them (it refuses to duplicate non-cheap
    # expressions), and the entropy terms below run the identical IEEE
    # ops on the identical values, so output is bit-equal (A/B: zero
    # differing rows, 2.8 s → 0.7 s at sf0.1).
    counted = base.select(
        "doc_id",
        "n",
        *[
            (n - F.length(F.replace(F.col("s"), F.lit(ch), F.lit(""))))
            .alias(f"c_{ch}")
            for ch in _ALPHABET
        ],
    )
    terms = []
    for ch in _ALPHABET:
        c = F.col(f"c_{ch}")
        terms.append(
            F.when(
                c > 0,
                (c.cast("double") / n) * F.log2(c.cast("double") / n),
            ).otherwise(F.lit(0.0))
        )
    total = terms[0]
    for t in terms[1:]:
        total = total + t
    ent = F.when(n > 0, round6(-total)).otherwise(F.lit(0.0))
    return counted.select(
        "doc_id",
        n.alias("n_letters"),
        ent.alias("entropy_bits"),
        (ent >= ENTROPY_MIN_BITS).alias("ok_entropy"),
    )


BPE_ROUNDS = 8      # merge rounds learned (r13: 2 -> 8, VERDICT r12 #8)
BPE_TOPN = 10       # pairs reported per stage
BPE_SYMBOLS = "ABCDEFGH"  # single-char stand-ins for merged symbols
                          # (corpus is lowercase a-z, so these never
                          # collide; later merges may consume earlier
                          # symbols, exactly as BPE prescribes)

# every merge round consumes one stand-in symbol; catch a mismatched
# tune at import instead of an IndexError mid-loop (ADVICE r13)
assert BPE_ROUNDS <= len(BPE_SYMBOLS), (
    f"BPE_ROUNDS={BPE_ROUNDS} needs {BPE_ROUNDS} stand-in symbols but "
    f"BPE_SYMBOLS has {len(BPE_SYMBOLS)} — extend BPE_SYMBOLS"
)


def _bpe_stage_ctes(rounds: int) -> str:
    """Generated CTE chain for `rounds` BPE merge rounds (no leading
    WITH): w{s} (the corpus after s merges), p{s}/r{s} (pair counts +
    (cnt DESC, pair) rank), m{s+1} (the chosen merge). One generator
    feeds BOTH oracles (q_bpe_merges, q_bpe_encode) so the learned
    rules are identical by construction; parameterizing it is what
    lets K grow past a hand-unrolled 2 (VERDICT r12 #8)."""
    parts = [
        """w0 AS (
      SELECT unnest(string_split_regex(trim(text), '\\s+')) AS word
      FROM documents)"""
    ]
    for s in range(rounds + 1):
        parts.append(
            f"""p{s} AS (
      SELECT substr(word, i, 2) AS pair, CAST(count(*) AS BIGINT) AS cnt
      FROM (SELECT word, unnest(generate_series(1, length(word) - 1)) AS i
            FROM w{s})
      GROUP BY 1)"""
        )
        parts.append(
            f"""r{s} AS (SELECT pair, cnt,
                  ROW_NUMBER() OVER (ORDER BY cnt DESC, pair) AS rnk
           FROM p{s})"""
        )
        if s < rounds:
            parts.append(
                f"m{s + 1} AS (SELECT pair FROM r{s} WHERE rnk = 1)"
            )
            parts.append(
                f"w{s + 1} AS (SELECT replace(word, (SELECT pair FROM "
                f"m{s + 1}), '{BPE_SYMBOLS[s]}') AS word FROM w{s})"
            )
    return ",\n    ".join(parts)


def _bpe_merges_oracle() -> str:
    union = "\n          UNION ALL ".join(
        f"SELECT {s} AS stage, * FROM r{s}" for s in range(BPE_ROUNDS + 1)
    )
    return f"""
    WITH {_bpe_stage_ctes(BPE_ROUNDS)}
    SELECT stage, pair, cnt, CAST(rnk AS INT) AS rnk,
           (rnk = 1 AND stage < {BPE_ROUNDS}) AS chosen
    FROM ({union})
    WHERE rnk <= {BPE_TOPN}
    """


@register(
    "q_bpe_merges",
    oracle=_bpe_merges_oracle(),
    tags=("llm", "text", "tokenizer", "eager"),
)
def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training, first BPE_ROUNDS merge rounds: count
    adjacent symbol pairs across the corpus, merge the most frequent
    pair (ties broken lexicographically — the deterministic variant of
    the published BPE algorithm, Sennrich et al. 2016), recount, and
    report the top pairs of every stage with the chosen merges
    flagged. Merged symbols are single stand-in characters so pair
    extraction stays a substring scan; `replace` applies merges
    leftmost-non-overlapping in both engines.

    Scale: each round is ONE distributed job — explode→groupBy on
    2-char keys (partial agg collapses to ≤|symbols|² rows per
    partition before the shuffle) topped by TakeOrderedAndProject,
    whose ≤BPE_TOPN winners come back to the driver as the round's
    state (the kmeans_fit_mat pattern: BPE is inherently sequential,
    and its per-round state is a bounded grid, so it lives
    driver-side and re-enters the next round's plan as a LITERAL —
    no crossJoin, no broadcast round-trip, no per-stage rank
    window). Measured at sf0.1: 22.0 s → 5.1 s warm for K=8 vs the
    broadcast-frame form (encode: 11.2 s → 5.4 s). The merged corpus is pinned per round so
    round s reads a cached table instead of replaying s chained
    replace scans. At 100 TB the standard trick applies unchanged:
    count pairs over the DISTINCT word dictionary weighted by word
    frequency instead of raw text (the same dictionary-first rewrite
    as operators/fuzzy.py)."""
    return bpe_merge_table(spark, sf_dir)


def bpe_merge_table(
    spark: SparkSession,
    sf_dir: str,
    rounds: int = BPE_ROUNDS,
    symbols: str = BPE_SYMBOLS,
    topn: int = BPE_TOPN,
) -> DataFrame:
    """The q_bpe_merges driver-state loop, parameterized: the
    registered op runs it at the oracle-replayable K=BPE_ROUNDS;
    the slow K=64 pytest (VERDICT r13 #7) runs the SAME loop at real
    vocab depth against the pure-Python Sennrich reference — one
    implementation, two depths, no test-only fork of the algorithm."""
    if rounds > len(symbols):
        raise ValueError(
            f"rounds={rounds} needs {rounds} stand-in symbols, got "
            f"{len(symbols)}"
        )
    d = load_table(spark, sf_dir, "documents")
    # DICTIONARY-FIRST (r16 — the rewrite the scale note above always
    # prescribed, now implemented): pair counts are a freq-weighted
    # sum over DISTINCT words (Σ_words freq·pairs_in_word — adjacency
    # never crosses word boundaries, so the counts are identical), so
    # every round's pair-explode AND merge-replace run over the
    # ~|vocab| dictionary instead of the full token stream. One
    # token-stream shuffle up front builds the dictionary; measured
    # at sf0.1 (K=8): 7.75 s → 2.73 s (round 16).
    w = pin(
        d.select(F.explode(words("text")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
        .persist()
    )

    def pair_counts(wdf: DataFrame) -> DataFrame:
        grams = F.when(
            F.length("word") > 1,
            F.transform(
                F.sequence(F.lit(1), F.length("word") - 1),
                lambda i: F.substring(F.col("word"), i, F.lit(2)),
            ),
        ).otherwise(F.array().cast("array<string>"))
        return (
            wdf.select("freq", F.explode(grams).alias("pair"))
            .groupBy("pair")
            .agg(F.sum("freq").alias("cnt"))
        )

    rows = []
    for s in range(rounds + 1):
        # TakeOrderedAndProject; collect() of a limit(N) preserves
        # the sort, so rnk is the list position — a ≤topn-row
        # driver fetch per round, the sanctioned bounded-grid class
        top = (
            pair_counts(w)
            .orderBy(F.desc("cnt"), F.asc("pair"))
            .limit(topn)
            .collect()
        )
        if not top and s < rounds:
            raise ValueError(
                f"BPE round {s}: corpus has no 2-char pairs left to "
                f"merge (every word is a single symbol) — lower "
                f"rounds below {rounds} for this corpus"
            )
        for i, r in enumerate(top, start=1):
            rows.append(
                (s, r["pair"], r["cnt"], i, i == 1 and s < rounds)
            )
        if s < rounds:
            # replaced dict rows may collide on the same word string;
            # pair_counts sums freq, so duplicate keys are harmless.
            # localCheckpoint (not persist): the dictionary is tiny
            # (~|vocab| rows) and the round loop is DEEP (K=64 in the
            # depth pin) — persist-chaining nests K InMemoryRelations
            # and the per-round plan/cache-lookup cost grows
            # superlinearly in K (measured: K=32 over a persisted
            # chain did not finish in 300 s; checkpointed it is
            # seconds). The star-contraction loop uses the same
            # truncation for the same reason. The PREVIOUS round's
            # checkpoint blocks are released once the new round has
            # materialized (ADVICE r16 #3: they otherwise live until
            # session end — K leaked cached datasets per query in a
            # long-lived serving session).
            prev = w
            w = w.select(
                F.replace(
                    F.col("word"),
                    F.lit(top[0]["pair"]),
                    F.lit(symbols[s]),
                ).alias("word"),
                "freq",
            ).localCheckpoint()
            if s > 0:
                # round 0's `w` is the caller's frame, not a checkpoint
                release_local_checkpoint(prev)

    # the final round's checkpoint: the output rows are already
    # collected, nothing references it
    release_local_checkpoint(w)
    return spark.createDataFrame(
        rows, "stage int, pair string, cnt long, rnk int, chosen boolean"
    )


CHUNK_TOKENS = 64   # tokens per RAG chunk
CHUNK_STRIDE = 48   # hop: 16-token overlap between consecutive chunks


@register(
    "q_text_chunk",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {sql_words('text')} AS w FROM documents),
    starts AS (
      SELECT doc_id, w, CAST(s AS INT) AS start_tok
      FROM t, LATERAL unnest(
        range(0, greatest(len(w) - {CHUNK_TOKENS - CHUNK_STRIDE}, 1),
              {CHUNK_STRIDE})) AS u(s))
    SELECT doc_id,
           CAST(start_tok / {CHUNK_STRIDE} AS INT)             AS chunk_idx,
           start_tok,
           CAST(least({CHUNK_TOKENS}, len(w) - start_tok) AS INT)
                                                               AS n_tokens,
           array_to_string(w[start_tok + 1 : start_tok + {CHUNK_TOKENS}], ' ')
                                                               AS chunk_text
    FROM starts
    """,
    tags=("llm", "text", "rag"),
)
def q_text_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG chunking: documents split into CHUNK_TOKENS-token windows
    advancing CHUNK_STRIDE tokens (16-token overlap keeps answers
    that straddle a boundary retrievable), emitting the actual chunk
    text — the retrieval-corpus build step. Starts advance while the
    previous window leaves tokens uncovered (s < len − overlap), so
    every token lands in ≥1 chunk and the final chunk may be short
    (mirrored in both engines' range arithmetic; DuckDB slices are
    end-inclusive, so the SQL slice bound is start+CHUNK_TOKENS while
    Spark's slice(start+1, CHUNK_TOKENS) takes a length).

    Scale: stateless row expansion (sequence+explode, ~len/stride ×),
    no shuffle; the chunk becomes the embedding unit downstream
    (q_mm_embed) and inherits its Arrow-batched path."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", words("text").alias("w")
    )
    starts = d.select(
        "doc_id",
        "w",
        F.explode(
            F.sequence(
                F.lit(0),
                F.greatest(
                    F.size("w") - (CHUNK_TOKENS - CHUNK_STRIDE), F.lit(1)
                )
                - 1,
                F.lit(CHUNK_STRIDE),
            )
        ).alias("start_tok"),
    )
    return starts.select(
        "doc_id",
        (F.col("start_tok") / CHUNK_STRIDE).cast("int").alias("chunk_idx"),
        "start_tok",
        F.least(F.lit(CHUNK_TOKENS), F.size("w") - F.col("start_tok"))
        .cast("int")
        .alias("n_tokens"),
        F.array_join(
            F.slice(F.col("w"), F.col("start_tok") + 1, F.lit(CHUNK_TOKENS)), " "
        ).alias("chunk_text"),
    )


BM25_K1 = 1.2
BM25_B = 0.75
BM25_TERMS = ("join", "scan", "merge")  # fixture mid-frequency tokens


def _sql_bm25_term(i: int, term: str) -> str:
    """DuckDB per-term idf_micro * tfnorm_micro, operand chain
    IDENTICAL to the Spark side (see q_bm25)."""
    idf = (
        f"CAST(floor(CAST(CAST(ln((g.n_docs - g.df{i} + 0.5) / (g.df{i} + 0.5) + 1) "
        f"AS FLOAT) AS DOUBLE) * 1000000) AS BIGINT)"
    )
    tfn = (
        f"CAST(floor(CAST(b.tf{i} AS DOUBLE) * {BM25_K1 + 1} / "
        f"(CAST(b.tf{i} AS DOUBLE) + {BM25_K1} * ({1 - BM25_B} + {BM25_B} * "
        f"(CAST(b.dl AS DOUBLE) * CAST(g.n_docs AS DOUBLE) / CAST(g.sum_dl AS DOUBLE)))) "
        f"* 1000000) AS BIGINT)"
    )
    return f"({idf} * {tfn})"


def _bm25_oracle() -> str:
    tf_cols = ",\n             ".join(
        f"CAST(len(list_filter(w, x -> x = '{t}')) AS BIGINT) AS tf{i}"
        for i, t in enumerate(BM25_TERMS)
    )
    df_cols = ", ".join(
        f"SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
        for i in range(len(BM25_TERMS))
    )
    score = " + ".join(_sql_bm25_term(i, t) for i, t in enumerate(BM25_TERMS))
    return f"""
    WITH d AS (SELECT doc_id, {sql_words('text')} AS w FROM documents),
    b AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl,
             {tf_cols}
          FROM d),
    g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(dl) AS BIGINT) AS sum_dl, {df_cols} FROM b)
    SELECT b.doc_id, {score} AS score_micro
    FROM b, g
    WHERE {score} > 0
    """


@register("q_bm25", oracle=_bm25_oracle(), tags=("llm", "text", "retrieval"))
def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 relevance scoring of every document against a fixed term
    set — the retrieval primitive (Robertson/Lucene idf variant:
    ln((N - df + ½)/(df + ½) + 1)) a training-data pipeline uses for
    corpus triage and hard-negative mining. One scan computes per-doc
    tf/dl as array expressions; corpus stats (N, Σdl, per-term df)
    are ONE 1-row aggregate broadcast back — no second scan, no
    driver collect. Exactness: ln squeezes through float32 (the
    q_entropy parity guard) then everything is integer micro-units;
    the tf-normalization double chain is operand-for-operand
    identical in the oracle, so scores hash-match bit-for-bit.
    At 100 TB this is a scan + a broadcast — no shuffle of the
    corpus at all."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", words("text").alias("w")
    )
    def tf_of(term: str):
        # factory keeps the filter lambda 1-arg (a t=t default would
        # make PySpark treat it as an (element, index) lambda)
        return F.size(F.filter("w", lambda x: x == F.lit(term))).cast("long")

    b = d.select(
        "doc_id",
        F.size("w").cast("long").alias("dl"),
        *[tf_of(t).alias(f"tf{i}") for i, t in enumerate(BM25_TERMS)],
    )
    g = b.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("int")).cast("long").alias(f"df{i}")
            for i in range(len(BM25_TERMS))
        ],
    )
    j = b.crossJoin(F.broadcast(g))

    def term_score(i: int) -> F.Column:
        idf = (
            F.floor(
                F.log(
                    (F.col("n_docs") - F.col(f"df{i}") + F.lit(0.5))
                    / (F.col(f"df{i}") + F.lit(0.5))
                    + F.lit(1)
                )
                .cast("float")
                .cast("double")
                * 1_000_000
            )
        ).cast("long")
        tfn = (
            F.floor(
                F.col(f"tf{i}").cast("double")
                * F.lit(BM25_K1 + 1)
                / (
                    F.col(f"tf{i}").cast("double")
                    + F.lit(BM25_K1)
                    * (
                        F.lit(1 - BM25_B)
                        + F.lit(BM25_B)
                        * (
                            F.col("dl").cast("double")
                            * F.col("n_docs").cast("double")
                            / F.col("sum_dl").cast("double")
                        )
                    )
                )
                * 1_000_000
            )
        ).cast("long")
        return idf * tfn

    score = sum((term_score(i) for i in range(len(BM25_TERMS))), F.lit(0).cast("long"))
    return j.select("doc_id", score.alias("score_micro")).filter(
        F.col("score_micro") > 0
    )


def _bpe_encode_oracle() -> str:
    """Encode oracle: the SAME generated merge chain as q_bpe_merges
    (one generator, identical rules by construction), then every
    document tokenized by applying the K merges in learned order."""
    reps = "w"
    for s in range(BPE_ROUNDS):
        reps = f"replace({reps}, m{s + 1}.pair, '{BPE_SYMBOLS[s]}')"
    froms = ", ".join(f"m{s + 1}" for s in range(BPE_ROUNDS))
    return f"""
    WITH {_bpe_stage_ctes(BPE_ROUNDS)},
    docs AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
             FROM documents),
    enc AS (
      SELECT doc_id, ws,
             list_transform(ws, w -> {reps}) AS es
      FROM docs, {froms}),
    stats AS (
      SELECT doc_id,
             CAST(len(ws) AS BIGINT) AS n_words,
             CAST(list_sum(list_transform(ws, w -> length(w))) AS BIGINT)
               AS n_chars_raw,
             CAST(list_sum(list_transform(es, w -> length(w))) AS BIGINT)
               AS n_symbols_bpe
      FROM enc)
    SELECT doc_id, n_words, n_chars_raw, n_symbols_bpe,
           (n_symbols_bpe * 1000000) // n_chars_raw AS compression_micro
    FROM stats
    WHERE n_chars_raw > 0
    """


@register(
    "q_bpe_encode",
    oracle=_bpe_encode_oracle(),
    tags=("llm", "text", "eager"),
)
def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODING — the apply step that pairs with q_bpe_merges'
    training step: re-learn the same two merge rules (identical
    deterministic tiebreaks), then tokenize every document by
    applying them in order (merge 1 before merge 2, exactly as BPE
    prescribes — rule 2 was learned on a corpus where rule 1 had
    already fired, and can even consume the 'A' symbol rule 1
    introduced). Per doc: word count, raw symbol count, post-merge
    symbol count, and the integer-micro compression ratio — the
    statistic tokenizer sizing decisions read.

    Scale: the K rules are learned one TakeOrderedAndProject job
    per round, each winner a 1-row driver fetch that re-enters the
    next round's plan as a literal (the kmeans driver-resident-state
    pattern; BPE is inherently sequential and its per-round state is
    bounded); encoding is a pure scan-side transform. At 100 TB the
    full merge table (30-50k rules) would ship as a broadcast map
    consumed by a Pandas-UDF encoder, but the per-doc plan shape
    (tiny rule state + scan-local apply) is this one."""
    d = load_table(spark, sf_dir, "documents")
    # dictionary-first rule learning (see bpe_merge_table r16 note):
    # freq-weighted pair counts over distinct words are identical to
    # token-stream counts, and each round then scans ~|vocab| rows
    w0 = pin(
        d.select(F.explode(words("text")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
        .persist()
    )

    def top_pair(wdf: DataFrame) -> str:
        grams = F.when(
            F.length("word") > 1,
            F.transform(
                F.sequence(F.lit(1), F.length("word") - 1),
                lambda i: F.substring(F.col("word"), i, F.lit(2)),
            ),
        ).otherwise(F.array().cast("array<string>"))
        # one job per round: partial-agg pair counts topped by
        # TakeOrderedAndProject; the single winner is this round's
        # driver-resident state (the kmeans pattern — see
        # q_bpe_merges' scale note and measurement)
        top = (
            wdf.select("freq", F.explode(grams).alias("pair"))
            .groupBy("pair")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("pair"))
            .limit(1)
            .collect()
        )
        if not top:
            raise ValueError(
                "BPE encode: corpus has no 2-char pairs left to merge "
                f"— lower BPE_ROUNDS below {BPE_ROUNDS} for this corpus"
            )
        return top[0]["pair"]

    w, rules = w0, []
    for s in range(BPE_ROUNDS):
        mpair = top_pair(w)
        rules.append((mpair, BPE_SYMBOLS[s]))
        # truncate lineage per round (see bpe_merge_table: persist-
        # chaining nests K InMemoryRelations and planning cost grows
        # superlinearly in K; the checkpointed dictionary is tiny).
        # Previous round's checkpoint blocks released after the new
        # one materializes (ADVICE r16 #3) — round 0's `w` is the
        # pinned w0, released by the harness, not here.
        prev = w
        w = w.select(
            F.replace(
                F.col("word"), F.lit(mpair), F.lit(BPE_SYMBOLS[s])
            ).alias("word"),
            "freq",
        ).localCheckpoint()
        if s > 0:
            release_local_checkpoint(prev)
    # the last round's checkpoint: the rules are driver-resident and
    # the encoding below reads the raw documents, not w
    release_local_checkpoint(w)

    def apply_rules(wd):
        e = wd
        for mpair, sym in rules:
            e = F.replace(e, F.lit(mpair), F.lit(sym))
        return e

    enc = d.select("doc_id", words("text").alias("ws")).select(
        "doc_id", "ws", F.transform("ws", apply_rules).alias("es")
    )
    zero = F.lit(0).cast("long")
    n_raw = F.aggregate(
        F.transform("ws", lambda x: F.length(x).cast("long")),
        zero,
        lambda acc, x: acc + x,
    )
    n_bpe = F.aggregate(
        F.transform("es", lambda x: F.length(x).cast("long")),
        zero,
        lambda acc, x: acc + x,
    )
    return (
        enc.select(
            "doc_id",
            F.size("ws").cast("long").alias("n_words"),
            n_raw.alias("n_chars_raw"),
            n_bpe.alias("n_symbols_bpe"),
        )
        .filter(F.col("n_chars_raw") > 0)
        .withColumn(
            "compression_micro",
            F.expr("div(n_symbols_bpe * 1000000, n_chars_raw)"),
        )
    )


@register(
    "q_tokenizer_fertility",
    oracle=f"""
    WITH t AS (
      SELECT lang, n_chars,
             CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
             CAST(len(regexp_extract_all(text, '{TOKEN_REGEX}')) AS BIGINT)
               AS n_tokens,
             CAST(len({sql_words('text')}) AS BIGINT) AS n_words
      FROM documents)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT)      AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST(SUM(n_chars) AS BIGINT)  AS n_chars,
           CAST(SUM(n_bytes) AS BIGINT)  AS n_bytes,
           CAST((SUM(n_chars) * 1000000) // SUM(n_tokens) AS BIGINT)
             AS chars_per_token_micro,
           CAST((SUM(n_bytes) * 1000000) // SUM(n_tokens) AS BIGINT)
             AS bytes_per_token_micro,
           CAST((SUM(n_tokens) * 1000000) // SUM(n_words) AS BIGINT)
             AS fertility_micro
    FROM t
    GROUP BY lang
    """,
    tags=("llm", "text"),
)
def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer-fertility audit: tokens per word
    (fertility — the standard measure of how much a tokenizer
    fragments a language), chars per token, and bytes per token
    under the BPE-ish regex tokenizer. These ratios drive tokenizer
    and mix decisions (a language with 2× fertility pays 2× the
    sequence length for the same text) and, because byte counts
    diverge from char counts exactly where multi-byte scripts live,
    the bytes/chars pair doubles as an encoding audit. Ratios are
    exact integer MICRO-UNITS via the positive-operand floor-div
    identity (Spark `div` == DuckDB `//`); sums are exact BIGINTs.

    Scale: a single scan-side projection (regexp token counts,
    octet_length) plus one hash aggregation on lang — partial
    (map-side) combine makes shuffle volume |langs| rows regardless
    of corpus size."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "lang",
        "n_chars",
        F.octet_length("text").cast("long").alias("n_bytes"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(TOKEN_REGEX), 0))
        .cast("long")
        .alias("n_tokens"),
        F.size(words("text")).cast("long").alias("n_words"),
    )
    return t.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.sum("n_chars").alias("n_chars"),
        F.sum("n_bytes").alias("n_bytes"),
        F.expr("div(sum(n_chars) * 1000000, sum(n_tokens))").alias(
            "chars_per_token_micro"
        ),
        F.expr("div(sum(n_bytes) * 1000000, sum(n_tokens))").alias(
            "bytes_per_token_micro"
        ),
        F.expr("div(sum(n_tokens) * 1000000, sum(n_words))").alias(
            "fertility_micro"
        ),
    )


# ── blocklist quality gate (C4-style) ──────────────────────────────
# C4's most famous filter drops any page containing a term from a
# blocklist ("List of Dirty, Naughty …"); the same gate also serves
# internal-leak / boilerplate-marker screens. The list is a tuple
# constant so both engines inline identical literals. "dup" hits 5%
# of the fixture (a real split); "leak" demonstrates the multi-term
# plumbing at zero hits.
BLOCKLIST = ("dup", "leak")


@register(
    "q_quality_blocklist",
    oracle=f"""
    SELECT doc_id,
           CAST(len(w) AS BIGINT) AS n_words,
           CAST(len(list_filter(w, x -> x IN
             ({", ".join(f"'{t}'" for t in BLOCKLIST)}))) AS BIGINT)
             AS n_blocked,
           len(list_filter(w, x -> x IN
             ({", ".join(f"'{t}'" for t in BLOCKLIST)}))) >= 1
             AS drop_doc
    FROM (SELECT doc_id, {sql_words('text')} AS w FROM documents)
    """,
    tags=("llm", "quality", "pipeline"),
)
def q_quality_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist gate — the C4 badwords filter: any document
    containing a blocklisted token is dropped (the any-hit rule, as
    published; fraction-threshold variants are one constant away).
    Output per doc: (doc_id, n_words, n_blocked, drop_doc). The
    token definition is the shared `words()` so the gate sees
    exactly what every other text operator sees.

    Scale: pure scan-side array expressions — no shuffle, no join,
    no UDF; the blocklist inlines into the codegen'd filter
    (production lists of ~400 terms still inline; past that, swap
    the IN for a broadcast join against a terms table, same
    output). Composes with the pipeline gates as another stage-3
    predicate."""
    ws = words("text")
    hit = F.filter(ws, lambda x: x.isin(*BLOCKLIST))
    return load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(ws).cast("long").alias("n_words"),
        F.size(hit).cast("long").alias("n_blocked"),
        (F.size(hit) >= 1).alias("drop_doc"),
    )


# ── model-based quality filtering ──────────────────────────────────
CLS_BUCKETS = 4096  # hashed feature space (2^12)


def _cls_weight(b: int) -> int:
    """Weight of hash bucket `b` in integer micro-units ∈ [-1000,
    1000] — derived from md5 so the oracle can re-derive every weight
    from first principles. Stands in for an offline-trained linear
    model's coefficients (the engine's job is inference; training
    happens elsewhere — fastText in the published pipelines)."""
    import hashlib

    return int(hashlib.md5(f"w|{b}".encode()).hexdigest()[:15], 16) % 2001 - 1000


def _cls_oracle() -> str:
    # the oracle derives each token's weight from first principles
    # (md5 of its hash bucket) — proving the Spark side's packed
    # weight vector is exactly that derivation, tabulated
    wgt = (
        f"(('0x'||substr(md5('w|' || CAST((('0x'||substr(md5(t),1,15))::BIGINT "
        f"% {CLS_BUCKETS}) AS VARCHAR)),1,15))::BIGINT % 2001) - 1000"
    )
    # no COALESCE: a NULL text is NULL-in-NULL-out in BOTH engines
    # (Spark's aggregate over a NULL array is NULL too) — splices of
    # non-null text can never yield an empty token list, so the sum
    # is only NULL when the text is
    return f"""
    WITH w AS (SELECT doc_id, {sql_words('lower(text)')} AS w FROM documents),
    s AS (
      SELECT doc_id, CAST(len(w) AS INT) AS n_tokens,
             CAST(list_aggregate(
               list_transform(w, t -> {wgt}), 'sum') AS BIGINT)
               AS score_micro
      FROM w)
    SELECT doc_id, n_tokens, score_micro, score_micro >= 0 AS keep
    FROM s
    """


@register("q_quality_classifier", oracle=_cls_oracle(), tags=("llm", "text", "quality"))
def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality-classifier INFERENCE at scan speed — the
    model-based corpus filter (CCNet / DCLM-style fastText gate) that
    complements the rule-based gates (q_quality_gopher,
    q_quality_blocklist): tokens hash into CLS_BUCKETS features, the
    document's score is the sum of its tokens' weights (BIGINT
    micro-units), keep = score ≥ 0. The weight VECTOR is packed into
    one SQL-parsed array literal (32 KiB — the q_contamination_bloom
    packing: per-element F.lit would pay thousands of py4j calls) and
    indexed by element_at inside whole-stage codegen, so the whole
    gate is a single scan-side expression: no shuffle, no join, no
    UDF, no model server. The oracle re-derives every weight from the
    md5 definition instead of reading the packed table — the packing
    is proven lossless, not assumed.

    Scale: this is THE shape for model-scoring 100 TB with a linear
    head — weights ride the plan (a real model's coefficient table
    ships the same way, or as a broadcast join past ~1 MB), inference
    is embarrassingly row-local, and the keep predicate pushes into
    the same scan as every other stage-3 gate. Hash collisions are
    the standard hashing-trick trade (fastText uses the same bucket
    trick); 2^12 here, 2^21 in production — the constant, not the
    plan, changes."""
    weights = ", ".join(str(_cls_weight(b)) for b in range(CLS_BUCKETS))
    wcol = words(F.lower(F.col("text")))
    score = F.expr(
        f"aggregate(transform(_w, t -> element_at(array({weights}), "
        f"cast(pmod(cast(conv(substring(md5(t), 1, 15), 16, 10) as bigint), "
        f"{CLS_BUCKETS}) as int) + 1)), 0L, (a, v) -> a + v)"
    )
    return (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", wcol.alias("_w"))
        .select(
            "doc_id",
            F.size("_w").alias("n_tokens"),
            score.alias("score_micro"),
        )
        .withColumn("keep", F.col("score_micro") >= 0)
    )


# ── PII detection / redaction ──────────────────────────────────────
# Shared regex classes, chosen to behave identically under Java
# regex (Spark) and RE2 (DuckDB): character classes, bounded
# repetition, alternation, and ASCII \b only — no backreferences or
# lookaround (RE2 has neither), the same dialect-parity discipline
# TOKEN_REGEX pins. Counts are per class over the ORIGINAL text
# (overlap between classes cannot skew them); redaction applies the
# classes in one fixed order, so both engines' leftmost global
# replace produces byte-identical output.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PAN_RE = r"\b\d{4}[- ]\d{4}[- ]\d{4}[- ]\d{4}\b|\b\d{16}\b"
PII_PHONE_RE = r"\b\d{3}[-.]\d{3}[-.]\d{4}\b"
PII_IP_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
# deterministic planting moduli: which docs get which PII appended
PII_M_EMAIL, PII_M_PHONE, PII_M_IP, PII_M_PAN = (7, 3), (11, 4), (13, 5), (17, 6)


def _pii_perdoc_sql() -> str:
    """The per-doc CTE chain (planted corpus -> class counts ->
    redacted text -> n_pii), shared verbatim by the batch oracle
    (which adds the audit row) and the streaming oracle (which is
    exactly the per-doc rows) — one formulation, two deliveries."""
    plant = f"""
      text
      || CASE WHEN doc_id % {PII_M_EMAIL[0]} = {PII_M_EMAIL[1]}
              THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
              ELSE '' END
      || CASE WHEN doc_id % {PII_M_PHONE[0]} = {PII_M_PHONE[1]}
              THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                   || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              ELSE '' END
      || CASE WHEN doc_id % {PII_M_IP[0]} = {PII_M_IP[1]}
              THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
                   || '.' || CAST((doc_id // 256) % 256 AS VARCHAR) || '.7'
              ELSE '' END
      || CASE WHEN doc_id % {PII_M_PAN[0]} = {PII_M_PAN[1]}
              THEN ' card 4111-1111-1111-'
                   || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              ELSE '' END
    """
    red = "p.pii_text"
    for pat, tok in (
        (PII_EMAIL_RE, "<EMAIL>"),
        (PII_PAN_RE, "<PAN>"),
        (PII_PHONE_RE, "<PHONE>"),
        (PII_IP_RE, "<IP>"),
    ):
        red = f"regexp_replace({red}, '{pat}', '{tok}', 'g')"
    return f"""
    WITH p AS (SELECT doc_id, {plant} AS pii_text FROM documents),
    scanned AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(pii_text, '{PII_EMAIL_RE}')) AS BIGINT)
               AS n_email,
             CAST(len(regexp_extract_all(pii_text, '{PII_PHONE_RE}')) AS BIGINT)
               AS n_phone,
             CAST(len(regexp_extract_all(pii_text, '{PII_IP_RE}')) AS BIGINT)
               AS n_ip,
             CAST(len(regexp_extract_all(pii_text, '{PII_PAN_RE}')) AS BIGINT)
               AS n_pan,
             {red} AS redacted
      FROM p),
    perdoc AS (
      SELECT doc_id, n_email, n_phone, n_ip, n_pan,
             n_email + n_phone + n_ip + n_pan AS n_pii, redacted
      FROM scanned)
    """


def _pii_sql() -> str:
    return f"""
    WITH {_pii_perdoc_sql().strip().removeprefix("WITH ")}
    SELECT * FROM perdoc WHERE n_pii > 0
    UNION ALL
    SELECT CAST(-1 AS BIGINT), CAST(SUM(n_email) AS BIGINT),
           CAST(SUM(n_phone) AS BIGINT), CAST(SUM(n_ip) AS BIGINT),
           CAST(SUM(n_pan) AS BIGINT),
           CAST(SUM(n_email + n_phone + n_ip + n_pan) AS BIGINT),
           CAST(NULL AS VARCHAR)
    FROM perdoc
    """


def pii_stream_oracle() -> str:
    return f"""
    WITH {_pii_perdoc_sql().strip().removeprefix("WITH ")}
    SELECT * FROM perdoc WHERE n_pii > 0
    """


@register("q_pii_scrub", oracle=_pii_sql(), tags=("llm", "text", "pii"))
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction — the standard training-data stage
    the pipeline lacked (VERDICT r12 #4; q_text_scrub only masks
    digit runs). Four regex classes (email, US-shaped phone, IPv4,
    16-digit PAN with/without group separators) are detected and
    counted per document over a corpus with DETERMINISTICALLY PLANTED
    PII (doc_id-derived values appended by modulus per class, so
    every class is non-vacuous at every scale factor and both engines
    construct the identical corpus in-plan); redaction replaces each
    class with a typed token in one fixed order (email → PAN → phone
    → IP — tokens contain no digits, so later classes can never match
    inside an earlier replacement). Output: per-doc rows (doc_id,
    n_email, n_phone, n_ip, n_pan, n_pii, redacted) for docs with
    any hit, plus one corpus-level audit row (doc_id = -1, class
    totals over ALL docs, NULL redacted) — the numbers a privacy
    review signs off on. Regex dialect parity (Java vs RE2) is held
    to the shared safe subset: classes, bounded repetition,
    alternation, ASCII word boundaries — no backreferences or
    lookaround; byte-identical counts AND redacted text are
    hash-checked by the oracle.

    Scale: one pruned scan of documents; every count and both
    replace chains are codegen string expressions — no UDF, no
    shuffle for the per-doc rows, one partial+final agg for the
    audit row. At 100 TB this is exactly the shape you want: the
    scrub rides the same scan as the rest of the quality gates and
    the audit aggregate moves 5 longs per partition."""
    perdoc = pii_perdoc(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    audit = perdoc.agg(
        F.lit(-1).cast("long").alias("doc_id"),
        F.sum("n_email").alias("n_email"),
        F.sum("n_phone").alias("n_phone"),
        F.sum("n_ip").alias("n_ip"),
        F.sum("n_pan").alias("n_pan"),
        F.sum("n_pii").alias("n_pii"),
        F.lit(None).cast("string").alias("redacted"),
    )
    return perdoc.filter(F.col("n_pii") > 0).unionByName(audit)


def pii_perdoc(df: DataFrame) -> DataFrame:
    """(doc_id, text) → the per-doc PII rows (counts per class,
    n_pii, redacted) — the SAME Column expressions whether `df` is a
    batch scan (q_pii_scrub) or a streaming micro-batch
    (q_stream_pii_scrub); factored so the two deliveries cannot
    drift. Stateless and row-local by construction: a pure codegen
    map with no aggregation, which is what makes the streaming form
    a zero-state gate."""
    did = F.col("doc_id")

    def planted(mod_pair, body: F.Column) -> F.Column:
        m, r = mod_pair
        return F.when(did % m == r, body).otherwise(F.lit(""))

    pii_text = F.concat(
        F.col("text"),
        planted(
            PII_M_EMAIL,
            F.concat(
                F.lit(" contact user"),
                did.cast("string"),
                F.lit("@example.com"),
            ),
        ),
        planted(
            PII_M_PHONE,
            F.concat(
                F.lit(" call 555-"),
                F.lpad((did % 1000).cast("string"), 3, "0"),
                F.lit("-"),
                F.lpad((did % 10000).cast("string"), 4, "0"),
            ),
        ),
        planted(
            PII_M_IP,
            F.concat(
                F.lit(" from 10."),
                (did % 256).cast("string"),
                F.lit("."),
                (F.expr("doc_id div 256") % 256).cast("string"),
                F.lit(".7"),
            ),
        ),
        planted(
            PII_M_PAN,
            F.concat(
                F.lit(" card 4111-1111-1111-"),
                F.lpad((did % 10000).cast("string"), 4, "0"),
            ),
        ),
    )

    red = F.col("pii_text")
    for pat, tok in (
        (PII_EMAIL_RE, "<EMAIL>"),
        (PII_PAN_RE, "<PAN>"),
        (PII_PHONE_RE, "<PHONE>"),
        (PII_IP_RE, "<IP>"),
    ):
        red = F.regexp_replace(red, pat, tok)

    return (
        df.select("doc_id", pii_text.alias("pii_text"))
        .select(
            "doc_id",
            F.regexp_count("pii_text", F.lit(PII_EMAIL_RE))
            .cast("long")
            .alias("n_email"),
            F.regexp_count("pii_text", F.lit(PII_PHONE_RE))
            .cast("long")
            .alias("n_phone"),
            F.regexp_count("pii_text", F.lit(PII_IP_RE))
            .cast("long")
            .alias("n_ip"),
            F.regexp_count("pii_text", F.lit(PII_PAN_RE))
            .cast("long")
            .alias("n_pan"),
            red.alias("redacted"),
        )
        .withColumn(
            "n_pii",
            F.col("n_email") + F.col("n_phone") + F.col("n_ip") + F.col("n_pan"),
        )
        .select(
            "doc_id", "n_email", "n_phone", "n_ip", "n_pan", "n_pii", "redacted"
        )
    )
