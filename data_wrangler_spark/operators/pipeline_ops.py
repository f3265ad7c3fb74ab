"""Corpus-pipeline operators: sampling, splits, mixing, packing,
indexing, scoring, dedup clustering.

These are the operations a large-scale training-data pipeline runs
between "raw corpus" and "training shards" — north-star extensions
(the reference gateway, `/root/reference/index.js`, has no compute
surface at all; see SURVEY.md §2.4). Everything is deterministic:
sampling and splits key off a cross-engine md5 hash rather than
`rand()`, so results are reproducible run-to-run and across engines —
the property a 100 TB pipeline needs anyway (re-running a failed
stage must produce the same shard assignment).

Scale notes per operator live in each docstring; the shared themes:
- hash-sampling / splitting are stateless row-filters — no shuffle,
  fully pushed into the scan stage;
- quota/mixing and packing are one window shuffle each, partitioned
  by the shard key (lang) — bounded state per partition;
- the inverted index and TF-IDF are the classic explode→groupBy
  shapes whose shuffle keys are tokens (power-law skew: guarded by
  doc-frequency floors and posting-list caps);
- connected components is the one genuinely iterative operator
  (O(log n) label-propagation rounds, each one shuffle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from data_wrangler_spark.catalog import load_table, read_parquet
from data_wrangler_spark.functions.text import (
    TOKEN_REGEX,
    shingles_from_words,
    sql_shingles_of,
    sql_words,
    words,
)
from data_wrangler_spark.operators.dedup import (
    PREFIX_JACCARD_T,
    _md5_long,
    _sql_md5_long,
)
from data_wrangler_spark.functions.distributed import pin, spread
from data_wrangler_spark.registry import register
from data_wrangler_spark.scratch import ROOT, materialize, scratch_tag

SAMPLE_PCT = 10          # q_sample_hash keeps hash%100 < 10 → ~10%
SPLIT_SEED = 42          # q_split_train_test hash seed
MIX_CAP = 60             # q_mix_quota: max docs kept per language
PACK_BUDGET = 2048       # q_pack_sequences: token budget per bin
INDEX_MIN_DF = 3         # q_inverted_index: doc-frequency floor
INDEX_POSTINGS = 20      # q_inverted_index: posting-list cap
CLUSTER_THRESHOLD = 0.05  # q_dedup_cluster: jaccard edge cutoff


@register(
    "q_sample_hash",
    oracle=f"""
    SELECT doc_id, lang, source, n_chars
    FROM documents
    WHERE {_sql_md5_long("CAST(doc_id AS VARCHAR)")} % 100 < {SAMPLE_PCT}
    """,
    tags=("llm", "sampling"),
)
def q_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% corpus sample: keep rows whose md5-derived
    key-hash lands in the first 10 of 100 buckets. Unlike
    df.sample()/rand(), this is reproducible across runs, engines,
    and partitionings — the only sampling a restartable 100 TB job
    can use. Stateless row filter: no shuffle, evaluated inside the
    scan stage, and composable (sampling at 10% then 50% of that is
    just two predicates)."""
    d = load_table(spark, sf_dir, "documents")
    key = _md5_long(F.col("doc_id").cast("string"))
    return d.filter(key % 100 < SAMPLE_PCT).select(
        "doc_id", "lang", "source", "n_chars"
    )


@register(
    "q_split_train_test",
    oracle=f"""
    SELECT doc_id, lang,
           CASE WHEN {_sql_md5_long("CAST(doc_id AS VARCHAR)", SPLIT_SEED)} % 10 < 8
                  THEN 'train'
                WHEN {_sql_md5_long("CAST(doc_id AS VARCHAR)", SPLIT_SEED)} % 10 < 9
                  THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
    tags=("llm", "sampling"),
)
def q_split_train_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment by seeded
    key-hash. The seed isolates this split from any other hash-based
    sampling on the same key (different seed → independent buckets).
    Row-local (no shuffle); at scale the split column becomes the
    partitionBy of the shard write so each split lands in its own
    file tree."""
    d = load_table(spark, sf_dir, "documents")
    h = _md5_long(F.col("doc_id").cast("string"), SPLIT_SEED) % 10
    return d.select(
        "doc_id",
        "lang",
        F.when(h < 8, "train").when(h < 9, "val").otherwise("test").alias("split"),
    )


@register(
    "q_mix_quota",
    oracle=f"""
    SELECT doc_id, lang, source, CAST(rk AS INT) AS rk
    FROM (
      SELECT doc_id, lang, source,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY {_sql_md5_long("CAST(doc_id AS VARCHAR)")}, doc_id) AS rk
      FROM documents)
    WHERE rk <= {MIX_CAP}
    """,
    tags=("llm", "sampling"),
)
def q_mix_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data mixing by per-group quota: cap each language at MIX_CAP
    docs, choosing *which* docs by hash order (a deterministic uniform
    subsample, not "first N by id" which would bias toward old data).
    One window shuffle on the group key. At 100 TB the same shape
    rebalances source/domain mixes; for heavy groups the rank-filter
    pushes through AQE as a partial top-k (each partition can locally
    drop rows ranked past the cap before the final sort)."""
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        _md5_long(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        d.select("doc_id", "lang", "source", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= MIX_CAP)
    )


@register(
    "q_pack_sequences",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang,
             CAST(len(regexp_extract_all(lower(text), '{TOKEN_REGEX}')) AS BIGINT)
               AS n_tokens
      FROM documents),
    c AS (
      SELECT *,
             SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) - n_tokens AS cum_excl
      FROM t)
    SELECT lang,
           CAST(floor(cum_excl / {PACK_BUDGET}.0) AS BIGINT) AS bin_id,
           CAST(COUNT(*) AS BIGINT)  AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens,
           MIN(doc_id) AS first_doc,
           MAX(doc_id) AS last_doc
    FROM c
    GROUP BY lang, bin_id
    """,
    tags=("llm", "packing"),
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign docs (ordered within their lang shard)
    to fixed token-budget bins via exclusive running token count —
    bin = floor(cum_excl / budget). This is the contiguous-fill
    packing used to build training batches; docs may straddle a
    boundary (the trainer truncates), which is what keeps the
    assignment expressible as one window pass instead of a sequential
    fold. One shuffle, partitioned by shard key; running state is a
    single counter per partition regardless of data size."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "lang",
        F.size(F.regexp_extract_all(F.lower("text"), F.lit(TOKEN_REGEX), 0))
        .cast("long")
        .alias("n_tokens"),
    )
    w = Window.partitionBy("lang").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = toks.withColumn("cum_excl", F.sum("n_tokens").over(w) - F.col("n_tokens"))
    return (
        c.groupBy(
            "lang",
            F.floor(F.col("cum_excl") / F.lit(float(PACK_BUDGET))).alias("bin_id"),
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("bin_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


@register(
    "q_inverted_index",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id,
             unnest(list_distinct(regexp_extract_all(lower(text), '{TOKEN_REGEX}')))
               AS token
      FROM documents)
    SELECT token,
           CAST(COUNT(*) AS BIGINT) AS doc_freq,
           array_to_string((list_sort(list(doc_id)))[1:{INDEX_POSTINGS}], ',')
             AS postings
    FROM tok
    GROUP BY token
    HAVING COUNT(*) >= {INDEX_MIN_DF}
    """,
    tags=("llm", "text"),
)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index build: distinct tokens per doc → explode →
    group by token → sorted, capped posting list + doc frequency.
    The shuffle key is the token — power-law skewed, so two guards
    are structural: the df floor drops the hapax tail before it
    costs anything downstream, and the posting cap bounds the bytes
    any single reducer materializes (at corpus scale stopword tokens
    would otherwise collect millions of ids into one row)."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.regexp_extract_all(F.lower("text"), F.lit(TOKEN_REGEX), 0)
            )
        ).alias("token"),
    )
    return (
        tok.groupBy("token")
        .agg(
            F.count("*").alias("doc_freq"),
            # CSV string, not array<bigint>: the driver harness hashes
            # cells and can't canonicalize list values.
            F.array_join(
                F.slice(F.sort_array(F.collect_list("doc_id")), 1, INDEX_POSTINGS),
                ",",
            ).alias("postings"),
        )
        .filter(F.col("doc_freq") >= INDEX_MIN_DF)
    )


@register(
    "q_tfidf",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id,
             unnest(regexp_extract_all(lower(text), '{TOKEN_REGEX}')) AS token
      FROM documents),
    tf AS (
      SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
      FROM tok GROUP BY 1, 2),
    df AS (
      SELECT token, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
      FROM tok GROUP BY 1),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.token, tf.tf, df.df,
             CAST(floor(
               CAST(CAST(ln(n.n_docs / df.df) AS FLOAT) AS DOUBLE) * 1000000 + 0.5
             ) AS BIGINT) AS idf_micro
      FROM tf JOIN df USING (token) CROSS JOIN n),
    ranked AS (
      SELECT doc_id, token, tf, df, tf * idf_micro AS score_micro,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY tf * idf_micro DESC, token ASC) AS rn
      FROM scored)
    SELECT doc_id, token AS top_token, tf, df, score_micro
    FROM ranked WHERE rn = 1
    """,
    tags=("llm", "text", "eager"),
)
def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF keyword extraction: per-doc term counts joined with
    corpus document frequencies; each doc keeps its top-scoring term.
    The idf is quantized to integer micro-units *before* scoring
    (floor(f32(ln(N/df))·1e6 + 0.5)) so ranking compares exact
    integers — float ties can't flip order between engines, and the
    f32 round-trip absorbs the 1-ULP ln() divergence between JVM and
    libm. Two token-keyed shuffles (tf, df) + one doc-keyed window;
    the df side is orders of magnitude smaller than tf (one row per
    distinct token) → broadcast join, so the big tf table never
    reshuffles onto the token key a second time."""
    d = load_table(spark, sf_dir, "documents")
    n_docs = float(d.count())  # one scalar job; a literal beats an all-rows window
    tok = d.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit(TOKEN_REGEX), 0)
        ).alias("token"),
    )
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df_ = tok.groupBy("token").agg(F.count_distinct("doc_id").alias("df"))
    idf_micro = F.floor(
        F.log(F.lit(n_docs) / F.col("df")).cast("float").cast("double") * 1000000
        + 0.5
    )
    scored = tf.join(F.broadcast(df_.withColumn("idf_micro", idf_micro)), "token")
    w = Window.partitionBy("doc_id").orderBy(
        (F.col("tf") * F.col("idf_micro")).desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            F.col("token").alias("top_token"),
            "tf",
            "df",
            (F.col("tf") * F.col("idf_micro")).alias("score_micro"),
        )
    )


# Sweep-oracle prelude shared by q_dedup_cluster / q_dedup_keep_best:
# materialize the Jaccard edge list as a TEMP TABLE first. Identical
# semantics to the single-statement oracles below — restructured for
# the oracle ENGINE, not the math: DuckDB 1.0 re-evaluates a plain CTE
# at every reference, so `edges` inside a recursive CTE re-runs the
# whole ~2-minute shingle self-join once per propagation round (and
# AS MATERIALIZED makes it worse — measured >79 GB RSS at f5). Against
# the temp table the same recursive closure finishes in 0.1 s at f5
# (125k edges, largest component 95). verify_local prefers these; the
# driver still gets the documented single-statement recursive oracle,
# which is fine at its sf0.01 scale.
def _cluster_edges_stmt(tmp: str) -> str:
    return f"""
    CREATE OR REPLACE TEMP TABLE {tmp} AS
    WITH sh AS (
      SELECT doc_id, {sql_shingles_of('w', 3)} AS shingles
      FROM (SELECT doc_id, {sql_words('text')} AS w FROM documents)),
    ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(COUNT(*) AS BIGINT) AS n_inter
      FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    pairs AS (
      SELECT i.doc_a, i.doc_b
      FROM inter i
      JOIN sh sa ON sa.doc_id = i.doc_a
      JOIN sh sb ON sb.doc_id = i.doc_b
      WHERE CAST(i.n_inter AS DOUBLE)
              / (len(sa.shingles) + len(sb.shingles) - i.n_inter)
            >= {CLUSTER_THRESHOLD})
    SELECT doc_a AS src, doc_b AS dst FROM pairs
    UNION ALL
    SELECT doc_b AS src, doc_a AS dst FROM pairs
    """


# alternations the last min_label_components call took to converge —
# read by tests pinning the O(log n) round bound (never by operators)
LAST_STAR_ROUNDS = 0

# Safety cap on star-contraction alternations. Kiveris et al. prove
# O(log² n) rounds worst-case and ~log n in practice; 50 alternations
# covers n beyond any physical corpus (the v3 diameter-30 chain that
# forced the old loop's cap from 25 to 64 converges in 5), so hitting
# the cap means a logic bug, not a big graph — fail loudly either way
# (ADVICE r8 #3: three keeper operators share this tail and silent
# mislabeling would diverge from the recursive-CTE oracle).
STAR_ROUND_CAP = 50

# Edge-count bound for min_label_components' driver-local union-find
# fast path (~16 MB of packed longs at 2^20 edges); 0 disables it.
STAR_LOCAL_MAX = 1 << 20


def _orient(e: DataFrame) -> DataFrame:
    """Canonical high→low orientation, deduped, self-loops dropped."""
    return (
        e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def min_label_components(
    spark: SparkSession, nodes: DataFrame, pairs: DataFrame
) -> DataFrame:
    """Connected components by ALTERNATING STAR CONTRACTION (Kiveris
    et al. 2014, "Connected Components in MapReduce and Beyond" —
    the two-phase large-star/small-star algorithm), replacing the
    r14 O(diameter) min-label propagation loop (VERDICT r14 #5): the
    v3 fixtures exposed real chain diameters of ~26-30, and at 100 TB
    a chain-shaped dup graph makes an O(diameter) sequence of joins
    the slowest stage of every keeper op, where star contraction
    converges in O(log n) alternations regardless of diameter
    (measured: a 400-node chain takes 6 alternations vs 399
    propagation rounds).

    Each alternation:
    - large-star: every node points its LARGER neighbors at the
      minimum of its closed neighborhood — one groupBy-min over the
      symmetrized edges + a join;
    - small-star: with edges oriented high→low, every node and its
      smaller neighbors contract onto the neighborhood minimum.
    Both steps strictly preserve connectivity and only ever lower
    labels; the fixpoint is the star graph node→component-min — the
    same fixpoint the old loop reached, so all three callers
    (q_dedup_cluster, q_dedup_prefix_keep, q_dedup_lsh_keep) keep
    their recursive-CTE oracles unchanged. Returns (node, label);
    isolated nodes label themselves. Lineage is truncated per
    alternation (localCheckpoint; at cluster scale, checkpoint to
    the shuffle store)."""
    global LAST_STAR_ROUNDS

    from data_wrangler_spark.session import shuffle_width

    # the per-alternation shuffles move an edge-sized keyspace; on a
    # foreign session with default 200 shuffle partitions each round
    # pays hundreds of near-empty tasks — clamp width to the node
    # count (shuffle_width only ever narrows, so the 100 TB path is
    # unaffected). The initial _orient distinct is itself a full
    # shuffle, so it must materialize INSIDE the clamp too.
    n_nodes = nodes.count()
    rounds = 0
    with shuffle_width(spark, n_nodes):
        edges = _orient(
            pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        ).localCheckpoint()
        # Driver-local fast path (the q_kmeans_exact KM_FIT_LOCAL_MAX
        # pattern, applied to the keeper tail): below the bound the
        # deduped edge list is a few MB of longs, and the distributed
        # loop's cost is pure per-alternation job overhead (~6 tiny
        # shuffles × O(log n) alternations for a keyspace that fits
        # in one task). Min-label union-find on the collected edges
        # reaches the IDENTICAL fixpoint — each node labeled by its
        # component minimum — pinned equal to the distributed loop in
        # tests/test_pipeline_ops.py. Above the bound (the 100 TB
        # path) the star-contraction loop below runs unchanged.
        n_edges = edges.count()
        # `STAR_LOCAL_MAX and ...`: 0 truly disables the fast path
        # (ADVICE r16 #1 — a bare `n_edges <= STAR_LOCAL_MAX` would
        # still engage it on an empty edge list because 0 <= 0)
        if STAR_LOCAL_MAX and n_edges <= STAR_LOCAL_MAX:
            import numpy as np

            # Arrow transfer + index-based union-find (ADVICE r16 #2):
            # collect() built ~n_edges Row objects (hundreds of MB of
            # Python-object overhead at the 2^20 bound); toArrow moves
            # two packed long columns (~16 B/edge) and the parent
            # table is one int array. np.unique sorts ascending, so
            # the smaller INDEX is always the smaller node id — union
            # by min index IS union by min label, the same fixpoint
            # the dict form reached (pinned vs the distributed loop in
            # tests/test_pipeline_ops.py).
            tbl = edges.toArrow()
            eu = tbl.column("u").to_numpy(zero_copy_only=False)
            ev = tbl.column("v").to_numpy(zero_copy_only=False)
            node_ids, inv = np.unique(
                np.concatenate([eu, ev]), return_inverse=True
            )
            iu, iv = inv[: len(eu)], inv[len(eu):]
            parent = np.arange(len(node_ids), dtype=np.int64)

            def find(x: int) -> int:
                r = x
                while parent[r] != r:
                    r = parent[r]
                while parent[x] != r:  # path compression
                    parent[x], x = r, int(parent[x])
                return r

            for a, b in zip(iu.tolist(), iv.tolist()):
                ra, rb = find(a), find(b)
                if ra != rb:
                    # union by MIN root: the root IS the component label
                    if ra < rb:
                        parent[rb] = ra
                    else:
                        parent[ra] = rb
            rows = [
                (int(node_ids[i]), int(node_ids[find(i)]))
                for i in range(len(node_ids))
            ]
            LAST_STAR_ROUNDS = 0
            from pyspark.sql.types import StructField, StructType

            dt = edges.schema["u"].dataType
            mapping = spark.createDataFrame(
                rows,
                StructType(
                    [StructField("node", dt), StructField("_lbl", dt)]
                ),
            )
            return nodes.join(mapping, "node", "left").select(
                "node", F.coalesce("_lbl", "node").alias("label")
            )
        while rounds < STAR_ROUND_CAP:
            rounds += 1
            # large-star over the symmetric neighborhoods
            sym = edges.unionByName(
                edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
            )
            mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
            m = F.least(F.col("mn"), F.col("u"))
            large = (
                sym.join(mins, "u")
                .filter(F.col("v") > F.col("u"))
                .select(F.col("v").alias("u"), m.alias("v"))
                .distinct()
            )
            # small-star over the (already high→low) oriented edges
            smins = large.groupBy("u").agg(F.min("v").alias("m"))
            small = (
                large.join(smins, "u")
                .filter(F.col("v") != F.col("m"))
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
                .unionByName(smins.select("u", F.col("m").alias("v")))
                .distinct()
                .localCheckpoint()
            )
            # converged when the alternation is a no-op: both frames
            # are DISTINCT high→low edge sets, so equal cardinality
            # plus an empty one-sided difference decides set equality
            # with one subtract job instead of two (the counts are
            # cheap scans of already-checkpointed frames)
            if (
                small.count() == edges.count()
                and small.subtract(edges).count() == 0
            ):
                edges = small
                break
            edges = small
        else:
            raise RuntimeError(
                f"min_label_components: star contraction not converged "
                f"after {STAR_ROUND_CAP} alternations — impossible for "
                f"any physical graph (O(log² n) bound); this is a bug"
            )
    LAST_STAR_ROUNDS = rounds
    # converged stars: (u → component min) for every non-root node
    return nodes.join(
        edges.select(F.col("u").alias("node"), F.col("v").alias("_lbl")),
        "node",
        "left",
    ).select("node", F.coalesce("_lbl", "node").alias("label"))


def _cluster_comp_cte(tmp: str) -> str:
    return f"""
    WITH RECURSIVE reach AS (
      SELECT doc_id AS node, doc_id AS label FROM documents
      UNION
      SELECT e.dst AS node, r.label FROM reach r JOIN {tmp} e ON e.src = r.node),
    comp AS (SELECT node AS doc_id, MIN(label) AS component
             FROM reach GROUP BY node)
    """


@register(
    "q_dedup_cluster",
    oracle_sweep=f"""
    {_cluster_edges_stmt('dwc_edges')};
    {_cluster_comp_cte('dwc_edges')}
    SELECT doc_id, component,
           CAST(COUNT(*) OVER (PARTITION BY component) AS BIGINT) AS n_members,
           (doc_id = component) AS is_canonical
    FROM comp
    """,
    oracle=f"""
    WITH RECURSIVE
    sh AS (
      SELECT doc_id, {sql_shingles_of('w', 3)} AS shingles
      FROM (SELECT doc_id, {sql_words('text')} AS w FROM documents)),
    ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(COUNT(*) AS BIGINT) AS n_inter
      FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    pairs AS (
      SELECT i.doc_a, i.doc_b
      FROM inter i
      JOIN sh sa ON sa.doc_id = i.doc_a
      JOIN sh sb ON sb.doc_id = i.doc_b
      WHERE CAST(i.n_inter AS DOUBLE)
              / (len(sa.shingles) + len(sb.shingles) - i.n_inter)
            >= {CLUSTER_THRESHOLD}),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM pairs),
    reach AS (
      SELECT doc_id AS node, doc_id AS label FROM documents
      UNION
      SELECT e.dst AS node, r.label FROM reach r JOIN edges e ON e.src = r.node),
    comp AS (SELECT node AS doc_id, MIN(label) AS component
             FROM reach GROUP BY node)
    SELECT doc_id, component,
           CAST(COUNT(*) OVER (PARTITION BY component) AS BIGINT) AS n_members,
           (doc_id = component) AS is_canonical
    FROM comp
    """,
    tags=("llm", "dedup", "eager"),
)
def q_dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster resolution: near-dup *pairs* (n-gram Jaccard
    ≥ 0.05, same edge set as q_dedup_jaccard) folded into connected
    components by alternating star contraction; each doc gets its
    component's smallest doc_id as canonical representative. This is
    the step LSH pipelines need after pair generation — A~B and B~C
    must collapse to ONE keeper even when A~C was never compared.

    Component finding is the genuinely iterative operator in the
    suite: alternating star contraction (see min_label_components)
    converges in O(log n) alternations regardless of graph diameter.
    Lineage is truncated per round (localCheckpoint; at cluster
    scale, checkpoint to the shuffle store) — without it the plan
    doubles every iteration. The DuckDB
    oracle computes the same fixpoint as a recursive transitive
    closure; Spark-side iteration count is data-independent of the
    oracle's, both reach the unique fixpoint."""
    from data_wrangler_spark.registry import REGISTRY

    pairs = (
        REGISTRY["q_dedup_jaccard"]
        .run(spark, sf_dir)
        .filter(F.col("jaccard") >= CLUSTER_THRESHOLD)
        .select("doc_a", "doc_b")
    )
    d = load_table(spark, sf_dir, "documents")
    nodes = d.select(F.col("doc_id").alias("node"))
    labels = min_label_components(spark, nodes, pairs)

    wc = Window.partitionBy("component")
    return (
        labels.select(F.col("node").alias("doc_id"), F.col("label").alias("component"))
        .withColumn("n_members", F.count("*").over(wc))
        .withColumn("is_canonical", F.col("doc_id") == F.col("component"))
    )


CONTAM_EVAL_SOURCE = "src0"   # the held-out "benchmark" slice
CONTAM_NGRAM = 5              # word n-gram size for containment
CONTAM_THRESHOLD = 0.5        # containment fraction that flags a doc


@register(
    "q_contamination",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source, {sql_words('text')} AS w FROM documents
    ),
    sh0 AS (
        SELECT doc_id, source,
               unnest({sql_shingles_of('w', CONTAM_NGRAM)}) AS g0
        FROM toks
    ),
    sh AS (
        SELECT doc_id, source, {_sql_md5_long('g0')} AS g FROM sh0
    ),
    train AS (
        SELECT DISTINCT g FROM sh WHERE source <> '{CONTAM_EVAL_SOURCE}'
    ),
    ev AS (
        SELECT doc_id, g FROM sh WHERE source = '{CONTAM_EVAL_SOURCE}'
    ),
    tot AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
        FROM ev GROUP BY doc_id
    ),
    mat AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matched
        FROM ev WHERE g IN (SELECT g FROM train) GROUP BY doc_id
    )
    SELECT t.doc_id,
           t.n_grams,
           COALESCE(m.n_matched, 0)             AS n_matched,
           COALESCE(m.n_matched, 0) / t.n_grams AS containment,
           COALESCE(m.n_matched, 0) / t.n_grams >= {CONTAM_THRESHOLD}
                                                AS contaminated
    FROM tot t LEFT JOIN mat m ON t.doc_id = m.doc_id
    """,
    tags=("llm", "quality", "contamination"),
)
def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination check: for every doc in the held-out
    eval slice (source = src0), the fraction of its distinct word
    5-grams that appear anywhere in the training slice (every other
    source) — the standard n-gram-containment test run before
    training on a scraped corpus.

    Scale: the only big state is the distinct train-gram set; it is
    built with partial (map-side) distinct before one hash shuffle on
    the gram, and the eval side joins it with a left join against the
    (distinct, so non-multiplying) set — no row data moves, only
    grams. At 100 TB, the exact gram set swaps for a Bloom filter
    built in one pass (the existing q_bloom_prejoin machinery); the
    containment fractions become upper bounds with a known FP rate
    while this formulation stays the auditable reference.

    Two r15 plan fixes (VERDICT r14 #2):
    - the exploded shingle frame feeds BOTH consumers (train's
      distinct, the eval side) — without a persist the scan + words +
      explode recomputed per consumer (measured: the recompute was
      most of the gap to the DuckDB baseline, 1.05s vs 0.47s at
      sf0.1); pinned, it is one materialization, the same pin()
      discipline q_dedup_semantic uses;
    - grams cross the wire as md5-derived 60-bit LONGS
      (q_dedup_prefix_keep's cross-engine hashing idiom, replayed
      verbatim in the oracle so both engines count over the
      IDENTICAL integer sets): the distinct and the join shuffle
      8-byte keys instead of ~35-byte 5-gram strings. A 60-bit
      collision could only merge two grams corpus-wide (overcounting
      one containment hit) — negligible at any realistic gram count,
      and bit-identical in both engines either way. The string-exact
      formulation remains in q_decontaminate and the incremental
      index family."""
    from pyspark import StorageLevel

    d = spread(
        load_table(spark, sf_dir, "documents").select("doc_id", "source", "text"),
        "doc_id",
    )
    sh = pin(
        contam_grams(d, "source")
        .select("doc_id", "source", _md5_long(F.col("g")).alias("g"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    train = (
        sh.filter(F.col("source") != CONTAM_EVAL_SOURCE).select("g").distinct()
    )
    ev = sh.filter(F.col("source") == CONTAM_EVAL_SOURCE).select("doc_id", "g")
    # ONE pass computes both counts: left-join the eval grams against
    # the (distinct, so non-multiplying) train set with a presence
    # marker, then a single per-doc aggregate — replacing the
    # previous tot-agg + semi-join + mat-agg + final outer join
    # (three shuffles + a join) with one join + one shuffle.
    matched = ev.join(
        train.withColumn("m", F.lit(1)), "g", "left"
    )
    agg = matched.groupBy("doc_id").agg(
        F.count("*").alias("n_grams"),
        F.count("m").alias("n_matched"),
    )
    containment = F.col("n_matched") / F.col("n_grams")
    return agg.select(
        "doc_id",
        "n_grams",
        "n_matched",
        containment.alias("containment"),
        (containment >= F.lit(CONTAM_THRESHOLD)).alias("contaminated"),
    )


@register(
    "q_decontaminate",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source, {sql_words('text')} AS w FROM documents
    ),
    sh AS (
        SELECT doc_id, source,
               unnest({sql_shingles_of('w', CONTAM_NGRAM)}) AS g
        FROM toks
    ),
    evset AS (
        SELECT DISTINCT g FROM sh WHERE source = '{CONTAM_EVAL_SOURCE}'
    ),
    tr AS (
        SELECT doc_id, g FROM sh WHERE source <> '{CONTAM_EVAL_SOURCE}'
    ),
    tot AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
        FROM tr GROUP BY doc_id
    ),
    mat AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_eval_matched
        FROM tr WHERE g IN (SELECT g FROM evset) GROUP BY doc_id
    )
    SELECT t.doc_id, t.n_grams,
           COALESCE(m.n_eval_matched, 0)      AS n_eval_matched,
           COALESCE(m.n_eval_matched, 0) >= 1 AS drop_doc
    FROM tot t LEFT JOIN mat m ON t.doc_id = m.doc_id
    """,
    tags=("llm", "quality", "contamination"),
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The removal ACTION paired with q_contamination's audit: flag
    every TRAINING document sharing ≥1 distinct word 5-gram with the
    held-out eval slice — the GPT-3/PaLM-style 'dirty document'
    decontamination rule (you can't change the benchmark, so you drop
    the train docs that leak it). Same plan skeleton with the roles
    swapped: the distinct EVAL-gram set is the small side (eval
    slices are tiny by construction — at 100 TB it broadcasts, or
    becomes q_contamination_bloom's measured Bloom filter with this
    audit as exact reference), and
    the train stream left-semi probes it; one row per train doc comes
    back. The exploded frame is pinned for the same three-consumer
    reason as q_contamination's."""
    from pyspark import StorageLevel

    d = spread(
        load_table(spark, sf_dir, "documents").select("doc_id", "source", "text"),
        "doc_id",
    )
    sh = pin(contam_grams(d, "source").persist(StorageLevel.MEMORY_AND_DISK))
    evset = (
        sh.filter(F.col("source") == CONTAM_EVAL_SOURCE).select("g").distinct()
    )
    tr = sh.filter(F.col("source") != CONTAM_EVAL_SOURCE).select("doc_id", "g")
    tot = tr.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    mat = (
        tr.join(evset, "g", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_eval_matched"))
    )
    n_matched = F.coalesce(F.col("n_eval_matched"), F.lit(0).cast("long"))
    return tot.join(mat, "doc_id", "left").select(
        "doc_id",
        "n_grams",
        n_matched.alias("n_eval_matched"),
        (n_matched >= 1).alias("drop_doc"),
    )


_CONTAM_INC_SCRATCH = f"{ROOT}/contam_inc"


def _contam_index_path(sf_dir: str) -> str:
    """Path of the persisted eval-gram index. The governing constants
    are folded into the cache key, so changing the gram size or the
    eval source invalidates the index automatically instead of
    serving stale grams behind a completeness marker (r10 review)."""
    params = f"ngram={CONTAM_NGRAM},eval={CONTAM_EVAL_SOURCE}"
    return f"{_CONTAM_INC_SCRATCH}/{scratch_tag(sf_dir, 'documents', params)}"


def ensure_contam_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the persisted eval-gram index if missing and return it as
    a DataFrame — shared by q_contamination_incremental, the pipeline
    counter, and q_stream_decontaminate's static join side."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    path = materialize(
        _contam_index_path(sf_dir),
        lambda p: _doc_grams(d.filter(F.col("source") == CONTAM_EVAL_SOURCE))
        .select("g")
        .distinct()
        .write.parquet(p),
    )
    return read_parquet(spark, path)


def contam_grams(d: DataFrame, *carry: str) -> DataFrame:
    """(doc_id, [carry...], g): each doc's word CONTAM_NGRAM-grams,
    with multiplicity — the ONE definition of "gram" in the engine:
    the eval-gram index build, every probe of that index
    (q_contamination_incremental, the pipeline counter's history
    replay, the stream gates q_stream_decontaminate and
    quarantine_gate_plan's gate 2), q_contamination and
    q_decontaminate all call it, so the stored grams and the probed
    grams cannot drift (r10 review). Stream-safe: a plain projection
    of ``d`` (no spread, which reads df.rdd); ``carry`` names extra
    columns to keep beside doc_id."""
    return d.select("doc_id", *carry, words("text").alias("w")).select(
        "doc_id",
        *carry,
        F.explode(shingles_from_words(F.col("w"), CONTAM_NGRAM)).alias("g"),
    )


def _doc_grams(d: DataFrame) -> DataFrame:
    """contam_grams of a batch frame, widened first (spread: a narrow
    scan would shingle on one task). Not for streams — spread reads
    df.rdd."""
    return contam_grams(spread(d.select("doc_id", "text"), "doc_id"))


def _contam_inc_oracle() -> str:
    from data_wrangler_spark.operators.dedup import INC_EXIST_PCT

    return f"""
    WITH toks AS (
        SELECT doc_id, source, {sql_words('text')} AS w FROM documents),
    evset AS (
        SELECT DISTINCT g FROM (
          SELECT unnest({sql_shingles_of('w', CONTAM_NGRAM)}) AS g
          FROM toks WHERE source = '{CONTAM_EVAL_SOURCE}')),
    tr AS (
        SELECT doc_id, unnest({sql_shingles_of('w', CONTAM_NGRAM)}) AS g
        FROM toks
        WHERE source <> '{CONTAM_EVAL_SOURCE}'
          AND doc_id % 10 >= {INC_EXIST_PCT}),
    tot AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
        FROM tr GROUP BY doc_id),
    mat AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_eval_matched
        FROM tr WHERE g IN (SELECT g FROM evset) GROUP BY doc_id)
    SELECT t.doc_id, t.n_grams,
           COALESCE(m.n_eval_matched, 0)      AS n_eval_matched,
           COALESCE(m.n_eval_matched, 0) >= 1 AS drop_doc
    FROM tot t LEFT JOIN mat m ON t.doc_id = m.doc_id
    """


@register(
    "q_contamination_incremental",
    oracle=_contam_inc_oracle(),
    tags=("llm", "quality", "contamination", "pipeline"),
)
def q_contamination_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time decontamination as production actually runs it
    (VERDICT r9 #4): the held-out eval slice's distinct word 5-grams
    are a PERSISTED index built ONCE (the benchmark is fixed — it
    never grows with the corpus), and each daily batch of new
    training docs (doc_id % 10 >= INC_EXIST_PCT plays today's batch,
    the q_dedup_incremental split convention) probes that stored
    index by one gram equi-join. Output per new train doc:
    (doc_id, n_grams, n_eval_matched, drop_doc) with q_decontaminate's
    ≥1-shared-gram drop rule. The DuckDB oracle replays BOTH hops
    from raw text — index build and probe — proving the persisted
    gram set is lossless.

    Composes into q_corpus_pipeline_incremental as stage 2.5 (after
    in-batch exact dedup, before the quality gate): the pipeline
    anti-joins its new-batch survivors against this operator's
    drop_doc set and replays the same gate on history when building
    its survivor counter.

    Scale: per ingest the work is O(new batch) — shingle today's
    docs, one left-semi hash join against the stored gram index (the
    index is eval-sized, i.e. tiny relative to the corpus: it
    broadcasts; at 100 TB the exact set swaps for the measured
    Bloom gate below, q_contamination_bloom, with this formulation
    as the auditable reference). History is
    never rescanned and the eval set is never re-shingled.
    Cross-factor timings in SCALE.md pin the claim: wall time tracks
    batch size, not corpus size."""
    from data_wrangler_spark.operators.dedup import INC_EXIST_PCT

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    evset = ensure_contam_index(spark, sf_dir)
    tr = _doc_grams(
        d.filter(
            (F.col("source") != CONTAM_EVAL_SOURCE)
            & (F.col("doc_id") % 10 >= INC_EXIST_PCT)
        )
    )
    tot = tr.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    mat = (
        tr.join(evset, "g", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_eval_matched"))
    )
    n_matched = F.coalesce(F.col("n_eval_matched"), F.lit(0).cast("long"))
    return tot.join(mat, "doc_id", "left").select(
        "doc_id",
        "n_grams",
        n_matched.alias("n_eval_matched"),
        (n_matched >= 1).alias("drop_doc"),
    )


# ── Bloom-filter gate: the 100 TB representation, measured ────────
# Three docstrings above claim "at 100 TB the exact gram set swaps
# for a Bloom filter"; this operator converts the claim into code.
# The filter is DETERMINISTIC (md5-derived double hashing, fixed m/k)
# so DuckDB replays the exact bit arithmetic — the gate is
# exact-oracle, not rows-only, and false positives are part of the
# checked output rather than hand-waved.
BLOOM_M_BITS = 1 << 18  # 262,144 bits = 32 KiB — vs the gram set's MBs
BLOOM_K = 5             # hash functions; fp ≈ (1 - e^{-kn/m})^k


def _bloom_bits_sql(g: str) -> tuple[str, str]:
    """(h1, h2) DuckDB expressions for gram column `g` — the same
    48/44-bit md5 split the minhash family uses (dedup's
    _minhash_signatures / _sig_select_sql (h1,h2) convention);
    bit_j = (h1 + j*h2) % m, j ∈ [0, BLOOM_K)."""
    h1 = f"(('0x' || substr(md5({g}), 1, 12))::BIGINT)"
    h2 = f"(('0x' || substr(md5({g}), 13, 11))::BIGINT)"
    return h1, h2


# packed Bloom bitmap SQL per fixture key (see q_contamination_bloom:
# built once per eval suite, 32 KiB of text; single-entry bound)
_BLOOM_BM_CACHE: dict[str, str] = {}


def _contam_bloom_oracle() -> str:
    from data_wrangler_spark.operators.dedup import INC_EXIST_PCT

    h1, h2 = _bloom_bits_sql("g")
    return f"""
    WITH toks AS (
        SELECT doc_id, source, {sql_words('text')} AS w FROM documents),
    ev AS (
        SELECT DISTINCT g FROM (
          SELECT unnest({sql_shingles_of('w', CONTAM_NGRAM)}) AS g
          FROM toks WHERE source = '{CONTAM_EVAL_SOURCE}')),
    js AS (SELECT unnest(range({BLOOM_K})) AS j),
    bits AS (
        SELECT DISTINCT ({h1} + j * {h2}) % {BLOOM_M_BITS} AS bit
        FROM ev CROSS JOIN js),
    tr AS (
        SELECT DISTINCT doc_id, g FROM (
          SELECT doc_id, unnest({sql_shingles_of('w', CONTAM_NGRAM)}) AS g
          FROM toks
          WHERE source <> '{CONTAM_EVAL_SOURCE}'
            AND doc_id % 10 >= {INC_EXIST_PCT})),
    maybe AS (
        SELECT doc_id, g
        FROM (SELECT doc_id, g, ({h1} + j * {h2}) % {BLOOM_M_BITS} AS bit
              FROM tr CROSS JOIN js) tb
        JOIN bits USING (bit)
        GROUP BY doc_id, g
        HAVING COUNT(*) = {BLOOM_K}),
    per_doc AS (
        SELECT m.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_maybe_grams,
               CAST(SUM(CASE WHEN e.g IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_exact_grams
        FROM maybe m LEFT JOIN ev e ON e.g = m.g
        GROUP BY m.doc_id)
    SELECT doc_id, n_maybe_grams, n_exact_grams,
           n_exact_grams = 0 AS is_false_positive
    FROM per_doc
    """


@register(
    "q_contamination_bloom",
    oracle=_contam_bloom_oracle(),
    tags=("llm", "quality", "contamination", "pipeline", "sketch"),
)
def q_contamination_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination gate — the representation the
    exact gate (q_contamination_incremental) swaps to at 100 TB,
    here as a measured operator instead of a docstring claim. The
    persisted eval-gram index feeds a deterministic Bloom filter:
    each gram sets BLOOM_K bits via md5 double hashing
    (bit_j = (h1 + j·h2) mod BLOOM_M_BITS — the minhash family's
    hash construction, so both engines replay it bit-for-bit). New
    train docs' distinct grams probe the filter; a gram is
    maybe-contaminated iff ALL K of its bits are set, a doc is
    flagged iff any gram is. Output per FLAGGED doc:
    (doc_id, n_maybe_grams, n_exact_grams, is_false_positive) —
    the exact gate runs beside the filter as the audit path, so the
    false-positive count is part of the checked result (the sketch
    family's contract: approximate answer + in-contract error
    accounting), and the oracle replays filter build, probe, AND
    audit from raw text.

    Scale: the filter is 32 KiB REGARDLESS of corpus size (the
    gram set it replaces grows with the eval suite and costs MBs
    broadcast + a string hash join per probe) — and it is tested
    the way production tests it (VERDICT r11 #4): the bit set is
    PACKED into a long[4096] bitmap (one bounded driver fetch of
    the ≤2^18 distinct set bits at build time), shipped as ONE
    array literal in the plan, and membership is pure getbit
    integer arithmetic inside whole-stage codegen — shiftright +
    mask on element_at(bitmap, bit div 64). NO join anywhere on
    the probe path: a clean doc's grams die in the scan stage
    without touching a shuffle or a broadcast hash relation. The
    audit (exact) side stays what it was; run it on the filter's
    survivors or a sample — at 100 TB the filter eliminates the
    string join for the overwhelming majority of clean docs.
    SCALE.md carries the size/fp measurements."""
    from data_wrangler_spark.operators.dedup import INC_EXIST_PCT

    evset = ensure_contam_index(spark, sf_dir)

    def h1(c):
        return F.conv(F.substring(F.md5(c), 1, 12), 16, 10).cast("long")

    def h2(c):
        return F.conv(F.substring(F.md5(c), 13, 11), 16, 10).cast("long")

    js = F.array(*[F.lit(j).cast("long") for j in range(BLOOM_K)])

    def bits_of(df):
        # (…, j, bit) — one row per (gram, hash fn); bit collisions
        # within a gram keep their rows (the membership test counts
        # matched ROWS against BLOOM_K, collision-safe in both engines)
        return (
            df.withColumn("_h1", h1(F.col("g")))
            .withColumn("_h2", h2(F.col("g")))
            .withColumn("j", F.explode(js))
            .withColumn(
                "bit",
                (F.col("_h1") + F.col("j") * F.col("_h2")) % BLOOM_M_BITS,
            )
            .drop("_h1", "_h2")
        )

    # BUILD: pack the eval grams' bits into the long[4096] bitmap.
    # The word OR-folding happens IN SPARK (bit_or per 64-bit word),
    # so the driver fetch is at most 4096 (word, mask) rows — 32 KiB,
    # regardless of corpus or eval-suite size — not the raw bit list.
    # The packed bitmap is cached per fixture (the filter is built
    # once per eval suite in production, not per probe run); the key
    # carries every constant baked into the bits.
    bm_key = scratch_tag(
        sf_dir, "documents", f"bloom_bm,m={BLOOM_M_BITS},k={BLOOM_K}"
    )
    bm_sql = _BLOOM_BM_CACHE.get(bm_key)
    if bm_sql is None:
        words_rows = (
            bits_of(evset)
            .select(
                F.expr("cast(bit div 64 as int)").alias("w"),
                F.expr(
                    "shiftleft(cast(1 as bigint), cast(pmod(bit, 64) as int))"
                ).alias("m"),
            )
            .groupBy("w")
            .agg(F.expr("bit_or(m)").alias("mask"))
            .collect()
        )
        bm = [0] * (BLOOM_M_BITS // 64)
        for r in words_rows:
            bm[r.w] = r.mask
        # one SQL-parsed array literal — 4096 individual F.lit() calls
        # would cost ~1.4 s of py4j round trips at every plan build
        # (measured); the parser takes the same array in 3 ms, and
        # constant folding collapses it to ONE array literal either way
        bm_sql = "array(" + ",".join(f"{w}L" for w in bm) + ")"
        _BLOOM_BM_CACHE.clear()  # bounded: one entry, latest fixture
        _BLOOM_BM_CACHE[bm_key] = bm_sql
    bm_lit = F.expr(bm_sql)

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    tr = (
        _doc_grams(
            d.filter(
                (F.col("source") != CONTAM_EVAL_SOURCE)
                & (F.col("doc_id") % 10 >= INC_EXIST_PCT)
            )
        )
        .distinct()
    )
    # PROBE: getbit-style membership, entirely in codegen — for each
    # of the K hash functions, index the bitmap word (bit div 64,
    # 1-based element_at) and test the bit (shiftright + mask). The
    # conjunction of K independent single-bit tests is row-for-row
    # the oracle's "COUNT(joined bit rows) = K" semantics, including
    # the intra-gram bit-collision case (each j tested on its own).
    probe = tr.withColumn("_h1", h1(F.col("g"))).withColumn(
        "_h2", h2(F.col("g"))
    )
    for j in range(BLOOM_K):
        probe = probe.withColumn(
            f"_bit{j}",
            F.pmod(
                F.col("_h1") + F.lit(j).cast("long") * F.col("_h2"),
                F.lit(BLOOM_M_BITS).cast("long"),
            ),
        )
    # the 4096-element literal enters the plan ONCE, at the end —
    # adding it before the _bit withColumn chain makes every chained
    # transformation re-traverse the giant node (~0.6 s of plan-build
    # per run, measured)
    probe = probe.withColumn("_bm", bm_lit)
    member = " AND ".join(
        f"((shiftright(element_at(_bm, cast(div(_bit{j}, 64) as int) + 1), "
        f"cast(pmod(_bit{j}, 64) as int)) & 1) = 1)"
        for j in range(BLOOM_K)
    )
    maybe = pin(probe.filter(F.expr(member)).select("doc_id", "g").persist())
    exact = (
        maybe.join(F.broadcast(evset), "g", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_exact_grams"))
    )
    n_exact = F.coalesce(F.col("n_exact_grams"), F.lit(0).cast("long"))
    return (
        maybe.groupBy("doc_id")
        .agg(F.count("*").alias("n_maybe_grams"))
        .join(exact, "doc_id", "left")
        .select(
            "doc_id",
            "n_maybe_grams",
            n_exact.alias("n_exact_grams"),
            (n_exact == 0).alias("is_false_positive"),
        )
    )


# target training-mix proportions per language (must sum to 1)
MIX_WEIGHTS = {"en": 0.40, "zh": 0.20, "de": 0.15, "es": 0.15, "fr": 0.10}


@register(
    "q_mix_proportions",
    oracle=f"""
    WITH w(lang, wt) AS (VALUES {", ".join(f"('{k}', {v})" for k, v in MIX_WEIGHTS.items())}),
    avail AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY lang),
    scale AS (
      SELECT min(a.n / w.wt) AS m FROM avail a JOIN w ON w.lang = a.lang),
    caps AS (
      SELECT w.lang, CAST(floor(s.m * w.wt) AS BIGINT) AS cap
      FROM w, scale s),
    ranked AS (
      SELECT d.doc_id, d.lang, d.source,
             ROW_NUMBER() OVER (
               PARTITION BY d.lang
               ORDER BY {_sql_md5_long("CAST(d.doc_id AS VARCHAR)")}, d.doc_id
             ) AS rk
      FROM documents d JOIN w ON w.lang = d.lang)
    SELECT r.doc_id, r.lang, r.source, CAST(r.rk AS INT) AS rk
    FROM ranked r JOIN caps c ON c.lang = r.lang
    WHERE r.rk <= c.cap
    """,
    tags=("llm", "sampling"),
)
def q_mix_proportions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proportional training-mix construction: given target language
    ratios, take the largest mix achievable from the available
    corpus — scale m = min(availᵢ/wᵢ) (the bottleneck language is
    taken whole), capᵢ = floor(m·wᵢ), docs chosen per language by
    deterministic hash order. This is the mixture-weights op of a
    training pipeline (quota capping, q_mix_quota, is its fixed-cap
    sibling).

    Scale: per-language counts are one partial-agg pass; the scalar m
    broadcasts; selection is the same single window shuffle on the
    group key as every hash-ordered sampler here. The arithmetic is
    pure IEEE double (division, min, floor·product) — bit-identical
    across engines, so even cap boundaries agree exactly."""
    d = load_table(spark, sf_dir, "documents")
    w = spark.createDataFrame(
        list(MIX_WEIGHTS.items()), "lang string, wt double"
    )
    avail = d.groupBy("lang").agg(F.count("*").alias("n"))
    m = (
        avail.join(F.broadcast(w), "lang")
        .agg(F.min(F.col("n") / F.col("wt")).alias("m"))
    )
    caps = F.broadcast(w).crossJoin(F.broadcast(m)).select(
        "lang", F.floor(F.col("m") * F.col("wt")).alias("cap")
    )
    rk_w = Window.partitionBy("lang").orderBy(
        _md5_long(F.col("doc_id").cast("string")), "doc_id"
    )
    ranked = (
        d.join(F.broadcast(w.select("lang")), "lang")
        .select("doc_id", "lang", "source", F.row_number().over(rk_w).alias("rk"))
    )
    return (
        ranked.join(F.broadcast(caps), "lang")
        .filter(F.col("rk") <= F.col("cap"))
        .select("doc_id", "lang", "source", "rk")
    )


@register(
    "q_dedup_keep_best",
    oracle_sweep=f"""
    {_cluster_edges_stmt('dwk_edges')};
    {_cluster_comp_cte('dwk_edges')},
    ranked AS (
      SELECT c.doc_id, c.component, d.n_chars,
             ROW_NUMBER() OVER (PARTITION BY c.component
                                ORDER BY d.n_chars DESC, c.doc_id) AS rk
      FROM comp c JOIN documents d USING (doc_id))
    SELECT doc_id, component, n_chars, (rk = 1) AS keep
    FROM ranked
    """,
    oracle=f"""
    WITH RECURSIVE
    sh AS (
      SELECT doc_id, {sql_shingles_of('w', 3)} AS shingles
      FROM (SELECT doc_id, {sql_words('text')} AS w FROM documents)),
    ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(COUNT(*) AS BIGINT) AS n_inter
      FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    pairs AS (
      SELECT i.doc_a, i.doc_b
      FROM inter i
      JOIN sh sa ON sa.doc_id = i.doc_a
      JOIN sh sb ON sb.doc_id = i.doc_b
      WHERE CAST(i.n_inter AS DOUBLE)
              / (len(sa.shingles) + len(sb.shingles) - i.n_inter)
            >= {CLUSTER_THRESHOLD}),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM pairs),
    reach AS (
      SELECT doc_id AS node, doc_id AS label FROM documents
      UNION
      SELECT e.dst AS node, r.label FROM reach r JOIN edges e ON e.src = r.node),
    comp AS (SELECT node AS doc_id, MIN(label) AS component
             FROM reach GROUP BY node),
    ranked AS (
      SELECT c.doc_id, c.component, d.n_chars,
             ROW_NUMBER() OVER (PARTITION BY c.component
                                ORDER BY d.n_chars DESC, c.doc_id) AS rk
      FROM comp c JOIN documents d USING (doc_id))
    SELECT doc_id, component, n_chars, (rk = 1) AS keep
    FROM ranked
    """,
    tags=("llm", "dedup", "eager"),
)
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ACTION step of the dedup pipeline: after pair generation
    (q_dedup_jaccard) and cluster resolution (q_dedup_cluster), keep
    ONE document per near-dup cluster — the longest (n_chars, doc_id
    tiebreak), the usual "best representative" policy — and mark the
    rest for removal. Composition of already-verified stages: the
    cluster labels come from the same star-contraction components
    (vs. the oracle's recursive-CTE closure), the keeper rank is a
    per-component window over cluster-sized frames (no global sort).
    Singleton docs keep themselves, so `WHERE keep` IS the deduped
    corpus — the output a user materializes."""
    from data_wrangler_spark.registry import REGISTRY

    comp = REGISTRY["q_dedup_cluster"].run(spark, sf_dir).select(
        "doc_id", "component"
    )
    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    w = Window.partitionBy("component").orderBy(F.col("n_chars").desc(), "doc_id")
    return (
        comp.join(d, "doc_id")
        .withColumn("rk", F.row_number().over(w))
        .select("doc_id", "component", "n_chars", (F.col("rk") == 1).alias("keep"))
    )


# Per-language keep rates (percent): downsample the dominant language,
# keep the rest — the standard corpus re-balancing shape. Languages
# not in the map keep the default rate.
STRATA_RATES = {"en": 25, "zh": 80}
STRATA_DEFAULT = 50


def _strata_rate_sql() -> str:
    cases = " ".join(
        f"WHEN lang = '{k}' THEN {v}" for k, v in sorted(STRATA_RATES.items())
    )
    return f"CASE {cases} ELSE {STRATA_DEFAULT} END"


@register(
    "q_stratified_sample",
    oracle=f"""
    SELECT doc_id, lang, source, n_chars
    FROM documents
    WHERE {_sql_md5_long("CAST(doc_id AS VARCHAR)", seed=7)} % 100
          < ({_strata_rate_sql()})
    """,
    tags=("llm", "sampling"),
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling: each language stratum keeps
    its OWN rate (downsample dominant 'en' to 25%, keep 'zh' at 80%,
    default 50%) — the corpus re-balancing primitive q_sample_hash's
    single global rate cannot express. Same md5-threshold mechanism
    (seeded differently, so the two samples are independent), so
    membership is a pure scan-side predicate: reproducible on any
    engine, no shuffle, no state, and a doc's fate never depends on
    other rows — the property that lets a 100 TB sample re-run
    incrementally on new partitions only. Rates live in one CASE
    expression; both engines evaluate the identical predicate."""
    d = load_table(spark, sf_dir, "documents")
    rate = F.lit(STRATA_DEFAULT)
    for k, v in sorted(STRATA_RATES.items()):
        rate = F.when(F.col("lang") == k, F.lit(v)).otherwise(rate)
    keep = _md5_long(F.col("doc_id").cast("string"), seed=7) % 100 < rate
    return d.filter(keep).select("doc_id", "lang", "source", "n_chars")


WEIGHTED_SAMPLE_N = 100  # q_sample_weighted: docs kept


@register(
    "q_sample_weighted",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, lang, n_chars,
             CAST(CAST(ln(
               CAST({_sql_md5_long("CAST(doc_id AS VARCHAR)")} + 1 AS DOUBLE)
               / 1152921504606846976
             ) AS FLOAT) AS DOUBLE) / n_chars AS es_key
      FROM documents WHERE n_chars > 0)
    SELECT doc_id, lang, n_chars, es_key
    FROM keyed
    ORDER BY es_key DESC, doc_id
    LIMIT {WEIGHTED_SAMPLE_N}
    """,
    tags=("llm", "sampling"),
)
def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement, Efraimidis–Spirakis
    (2006): each doc draws u from its deterministic md5 hash
    (u=(h+1)/2^60 ∈ (0,1]) and gets key u^(1/w) with w = n_chars;
    the N largest keys are an exact weighted sample — long docs are
    proportionally more likely, yet the draw is reproducible across
    runs, engines, and partitionings (the same discipline as
    q_sample_hash, extended to weights). Ranking by u^(1/w) equals
    ranking by ln(u)/w, which avoids pow(): ln is the one
    transcendental and runs through the float32 parity guard
    (q_entropy's trick), then one exact double division by the
    integer weight — both engines order identical doubles, with
    doc_id as the total tiebreak.

    Scale: the key is a row-local scan expression; selection is
    TakeOrderedAndProject (per-task N-heaps, N-row driver merge) —
    no shuffle, no global sort, no rand(). This is how a weighted
    training-mix subsample runs restartably over 100 TB."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    h = _md5_long(F.col("doc_id").cast("string"))
    u = (h + 1).cast("double") / F.lit(float(1 << 60))
    es_key = F.log(u).cast("float").cast("double") / F.col("n_chars")
    return (
        d.select("doc_id", "lang", "n_chars", es_key.alias("es_key"))
        .orderBy(F.desc("es_key"), F.asc("doc_id"))
        .limit(WEIGHTED_SAMPLE_N)
    )


SHARD_WORLD_SIZE = 8  # q_shard_balance: training world size


@register(
    "q_shard_balance",
    oracle=f"""
    WITH sharded AS (
      SELECT {_sql_md5_long("CAST(doc_id AS VARCHAR)", 7)}
               % {SHARD_WORLD_SIZE} AS shard,
             n_chars
      FROM documents),
    per AS (
      SELECT shard,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS n_chars
      FROM sharded GROUP BY shard),
    tot AS (SELECT CAST(MAX(n_chars) AS BIGINT) AS mx,
                   CAST(MIN(n_chars) AS BIGINT) AS mn
            FROM per)
    SELECT p.shard, p.n_docs, p.n_chars,
           (p.n_chars * 1000000) // t.mx AS fill_micro,
           (t.mx * 1000000) // t.mn     AS imbalance_micro
    FROM per p, tot t
    """,
    tags=("llm", "sampling", "layout"),
)
def q_shard_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-dataloader SHARD assignment + balance audit: every
    doc lands on shard = seeded-hash(doc_id) % world_size — the
    deterministic, restart-stable assignment a distributed training
    job needs (epoch N and a resumed epoch N see identical shards;
    no coordination, no shuffle files). Per shard: doc count, char
    mass, fill ratio vs the heaviest shard, and the global
    max/min imbalance — the number that decides whether hash
    sharding suffices or the job needs the bin-packing path
    (q_pack_sequences) for its stragglers. Hash sharding gives
    imbalance → 1 as docs/shard grows (law of large numbers); the
    audit row is how you check YOUR corpus got there.

    Scale: one partial+final aggregate to world_size rows; the
    assignment expression itself is the thing a dataloader pushes
    into its parquet scan as a filter (shard = my_rank) — partition
    pruning does the rest if the table is written partitioned by
    shard."""
    d = load_table(spark, sf_dir, "documents")
    shard = (
        _md5_long(F.col("doc_id").cast("string"), 7) % SHARD_WORLD_SIZE
    ).alias("shard")
    per = d.select(shard, "n_chars").groupBy("shard").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("n_chars"),
    )
    tot = per.agg(
        F.max("n_chars").alias("mx"), F.min("n_chars").alias("mn")
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "shard",
        "n_docs",
        "n_chars",
        F.expr("div(n_chars * 1000000, mx)").alias("fill_micro"),
        F.expr("div(mx * 1000000, mn)").alias("imbalance_micro"),
    )


DOMAIN_CAP_PCT = 2  # per-source ceiling as a percent of the corpus


@register(
    "q_domain_cap",
    oracle=f"""
    WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM documents),
    ranked AS (
      SELECT doc_id, source, lang,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY {_sql_md5_long("CAST(doc_id AS VARCHAR)", seed=11)},
                        doc_id
             ) AS BIGINT) AS rk
      FROM documents)
    SELECT r.doc_id, r.source, r.lang, r.rk
    FROM ranked r, n
    WHERE r.rk <= (n.n_total * {DOMAIN_CAP_PCT} + 99) // 100
    """,
    tags=("llm", "pipeline"),
)
def q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document caps — the Common-Crawl-style guard against
    a single source dominating the training mix (C4 and RefinedWeb
    both cap per-domain contributions): every source keeps at most
    ⌈{DOMAIN_CAP_PCT}% of the corpus⌉ documents, chosen by a SEEDED
    md5 rank (deterministic, engine-independent, and uncorrelated
    with doc_id order, so the kept subset is an unbiased sample of
    the domain). The ceiling is computed with the positive-integer
    floor-div identity `(n·pct + 99) // 100` — identical in Spark's
    `div` and DuckDB's `//` for positive operands.

    Scale: one window per source partition (partition-parallel, no
    global sort — frames are domain-sized) and a broadcast 1-row
    corpus total; at 100 TB this is a scan + one shuffle on source.
    A skewed mega-domain makes one fat window partition: pre-salt by
    md5-bucket and cap per (source, bucket) with a per-bucket quota
    if a single domain exceeds a task's row budget."""
    d = load_table(spark, sf_dir, "documents")
    totals = d.agg(F.count("*").cast("bigint").alias("n_total"))
    w = Window.partitionBy("source").orderBy(
        _md5_long(F.col("doc_id").cast("string"), 11), "doc_id"
    )
    ranked = d.select(
        "doc_id", "source", "lang",
        F.row_number().over(w).cast("bigint").alias("rk"),
    )
    return (
        ranked.crossJoin(F.broadcast(totals))
        .filter(
            F.col("rk")
            <= F.expr(f"div(n_total * {DOMAIN_CAP_PCT} + 99, 100)")
        )
        .select("doc_id", "source", "lang", "rk")
    )


from data_wrangler_spark.operators.text_analysis import (
    GOPHER_MAX_SHORT_FRAC,
    GOPHER_MAX_MEAN_WLEN,
    GOPHER_MAX_WORDS,
    GOPHER_MIN_MEAN_WLEN,
    GOPHER_MIN_STOPWORD_HITS,
    GOPHER_MIN_WORDS,
    GOPHER_STOPWORDS,
)

_GOPHER_HITS_SQL = " + ".join(
    f"CAST(list_contains(w, '{s}') AS INT)" for s in GOPHER_STOPWORDS
)


@register(
    "q_corpus_pipeline",
    oracle=f"""
    WITH keeper AS (
      SELECT doc_id FROM (
        SELECT doc_id,
               ROW_NUMBER() OVER (PARTITION BY md5(lower(trim(text)))
                                  ORDER BY doc_id) AS rn
        FROM documents)
      WHERE rn = 1),
    quality AS (
      SELECT doc_id FROM (
        SELECT doc_id, {sql_words('text')} AS w FROM documents)
      WHERE len(w) BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
        AND CAST(len(array_to_string(w, '')) AS DOUBLE) / len(w)
              BETWEEN {GOPHER_MIN_MEAN_WLEN} AND {GOPHER_MAX_MEAN_WLEN}
        AND CAST(len(list_filter(w, x -> length(x) <= 3)) AS DOUBLE) / len(w)
              <= {GOPHER_MAX_SHORT_FRAC}
        AND ({_GOPHER_HITS_SQL}) >= {GOPHER_MIN_STOPWORD_HITS}),
    survivors AS (
      SELECT d.doc_id, d.lang, d.source, d.n_chars
      FROM documents d
      JOIN keeper  k USING (doc_id)
      JOIN quality q USING (doc_id)),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_surv FROM survivors),
    capped AS (
      SELECT s.*, CAST(ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY {_sql_md5_long("CAST(doc_id AS VARCHAR)", seed=11)},
                        doc_id) AS BIGINT) AS cap_rank
      FROM survivors s)
    SELECT c.doc_id, c.lang, c.source, c.n_chars, c.cap_rank
    FROM capped c, n
    WHERE c.cap_rank <= (n.n_surv * {DOMAIN_CAP_PCT} + 99) // 100
      AND {_sql_md5_long("CAST(c.doc_id AS VARCHAR)", SPLIT_SEED)} % 10 < 8
    """,
    tags=("llm", "pipeline"),
)
def q_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus pipeline END TO END as ONE composed query — the
    selection a user materializes as their training set, proving the
    stages compose declaratively instead of through intermediate
    tables: exact-dedup keepers (q_dedup_exact's md5 rank) ∩ Gopher
    quality passes (q_quality_gopher, composed via the registry) →
    per-domain cap over the SURVIVOR population (q_domain_cap's
    seeded rank, ceiling recomputed on the post-filter count — caps
    apply to what remains, not the raw corpus) → train-split hash
    (q_split_train_test's seed). One logical plan: Catalyst fuses the
    dedup window, the quality scan, the cap window, and the split
    predicate; nothing materializes between stages.

    Scale: the composition inherits each stage's own story — one
    md5-partition window, one scan-side quality filter, one
    per-source window + broadcast 1-row survivor count, one
    scan-side split predicate. The whole pipeline is two windows +
    one broadcast over a single pass of the corpus."""
    from data_wrangler_spark.registry import REGISTRY

    d = load_table(spark, sf_dir, "documents")
    keeper_w = Window.partitionBy(F.md5(F.lower(F.trim("text")))).orderBy("doc_id")
    keepers = (
        d.withColumn("rn", F.row_number().over(keeper_w))
        .filter(F.col("rn") == 1)
        .select("doc_id")
    )
    quality = (
        REGISTRY["q_quality_gopher"]
        .run(spark, sf_dir)
        .filter(F.col("passes"))
        .select("doc_id")
    )
    survivors = (
        d.select("doc_id", "lang", "source", "n_chars")
        .join(keepers, "doc_id")
        .join(quality, "doc_id")
    )
    pin(survivors.persist())
    n = survivors.agg(F.count("*").cast("bigint").alias("n_surv"))
    cap_w = Window.partitionBy("source").orderBy(
        _md5_long(F.col("doc_id").cast("string"), 11), "doc_id"
    )
    capped = survivors.withColumn(
        "cap_rank", F.row_number().over(cap_w).cast("bigint")
    )
    split_h = _md5_long(F.col("doc_id").cast("string"), SPLIT_SEED) % 10
    return (
        capped.crossJoin(F.broadcast(n))
        .filter(
            (F.col("cap_rank") <= F.expr(f"div(n_surv * {DOMAIN_CAP_PCT} + 99, 100)"))
            & (split_h < 8)
        )
        .select("doc_id", "lang", "source", "n_chars", "cap_rank")
    )


# ── fused prefix-filtered dedup → keeper (VERDICT r7 #3) ──────────
# Near-dup pairs at the PPJoin threshold, folded straight into the
# keep/drop decision: ONE row per doc, never a materialized pair set.

def _prefix_hs_cte() -> str:
    """Hashed shingle sets: md5-derived 60-bit longs (the repo's
    cross-engine hash — `_md5_long`), so both engines intersect the
    IDENTICAL integer sets and every ≥t decision matches by
    construction (the q_dedup_minhash idiom)."""
    return f"""
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform({sql_shingles_of('w', 3)},
                                          s -> {_sql_md5_long('s')})) AS hs
      FROM (SELECT doc_id, {sql_words('text')} AS w FROM documents)),
    ex AS (SELECT doc_id, unnest(hs) AS h FROM sh),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(COUNT(*) AS BIGINT) AS n_inter
      FROM ex a JOIN ex b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    pairs AS (
      SELECT i.doc_a, i.doc_b
      FROM inter i
      JOIN sh sa ON sa.doc_id = i.doc_a
      JOIN sh sb ON sb.doc_id = i.doc_b
      WHERE CAST(i.n_inter AS DOUBLE)
              / (len(sa.hs) + len(sb.hs) - i.n_inter)
            >= {PREFIX_JACCARD_T})"""


_PREFIX_KEEP_TAIL = """
    comp AS (SELECT node AS doc_id, MIN(label) AS component
             FROM reach GROUP BY node),
    ranked AS (
      SELECT c.doc_id, c.component, d.n_chars,
             ROW_NUMBER() OVER (PARTITION BY c.component
                                ORDER BY d.n_chars DESC, c.doc_id) AS rk
      FROM comp c JOIN documents d USING (doc_id))
    SELECT doc_id, component, n_chars, (rk = 1) AS keep
    FROM ranked
"""


@register(
    "q_dedup_prefix_keep",
    oracle_sweep=f"""
    CREATE OR REPLACE TEMP TABLE dpk_edges AS
    WITH {_prefix_hs_cte()}
    SELECT doc_a AS src, doc_b AS dst FROM pairs
    UNION ALL
    SELECT doc_b AS src, doc_a AS dst FROM pairs;
    WITH RECURSIVE reach AS (
      SELECT doc_id AS node, doc_id AS label FROM documents
      UNION
      SELECT e.dst AS node, r.label
      FROM reach r JOIN dpk_edges e ON e.src = r.node),
    {_PREFIX_KEEP_TAIL}
    """,
    oracle=f"""
    WITH RECURSIVE
    {_prefix_hs_cte()},
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM pairs),
    reach AS (
      SELECT doc_id AS node, doc_id AS label FROM documents
      UNION
      SELECT e.dst AS node, r.label FROM reach r JOIN edges e ON e.src = r.node),
    {_PREFIX_KEEP_TAIL}
    """,
    tags=("llm", "dedup", "pipeline", "eager"),
)
def q_dedup_prefix_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered near-dup detection FUSED with the keeper
    decision (VERDICT r7 #3): candidates come from the same PPJoin
    prefix filter as q_dedup_jaccard_prefix (threshold 0.6), but the
    quadratic pair set is never the OUTPUT — verified pairs flow
    straight into min-label components and a per-component keeper
    window, emitting ONE row per doc (component, n_chars, keep).
    On a duplicate-heavy corpus (e.g. 10-way planted dup cliques at
    the derived f10 fixture) the pair form's output is C(10,2)=45
    rows per clique; this form's is 10, and the pairs die inside the
    clustering aggregation.

    Exactness: shingles are hashed to md5-derived 60-bit longs
    (`_md5_long` — reproducible in DuckDB), so BOTH engines compute
    Jaccard over the identical integer sets and every ≥t decision
    matches by construction — the q_dedup_minhash cross-engine
    hashing idiom. Verification intersects 8-byte longs instead of
    ~25-byte shingle strings: ~3× less verify-join shuffle and a
    cheaper array_intersect, which is what makes the fused form
    ~3× faster than q_dedup_jaccard_prefix on the same corpus.

    Scale: prefix candidate generation is bucketed (rare-token
    postings only), verification is one sort-merge join against the
    cached hashed-set arrays, components converge in O(log n)
    star-contraction alternations (near-clique dup graphs: 2-3), and the
    keeper is a per-component window over cluster-sized frames. No
    stage materializes more than the verified EDGE set, and the
    output is corpus-sized, not pair-sized."""
    from pyspark import StorageLevel

    from data_wrangler_spark.operators.dedup import prefix_verified_pairs

    t = PREFIX_JACCARD_T
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "n_chars"
    )
    hs = (
        spread(d, "doc_id")
        .select("doc_id", words("text").alias("w"))
        .select("doc_id", shingles_from_words(F.col("w"), 3).alias("s"))
        .select(
            "doc_id",
            F.array_distinct(
                F.transform("s", lambda x: _md5_long(x))
            ).alias("shingles"),
        )
        .withColumn("n_sh", F.size("shingles"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    pin(hs)
    pairs = prefix_verified_pairs(spark, hs, t)[0].select("doc_a", "doc_b")
    return _keeper_from_pairs(spark, d, pairs)


def _keeper_from_pairs(
    spark: SparkSession, d: DataFrame, pairs: DataFrame
) -> DataFrame:
    """Shared tail of the fused dedup-keeper family: verified pairs →
    min-label components → per-component keeper window → ONE row per
    doc (doc_id, component, n_chars, keep). Mirrors _PREFIX_KEEP_TAIL
    on the oracle side."""
    nodes = d.select(F.col("doc_id").alias("node"))
    labels = min_label_components(spark, nodes, pairs)
    comp = labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("component")
    )
    wk = Window.partitionBy("component").orderBy(
        F.col("n_chars").desc(), "doc_id"
    )
    return (
        comp.join(d.select("doc_id", "n_chars"), "doc_id")
        .withColumn("rk", F.row_number().over(wk))
        .select(
            "doc_id",
            "component",
            "n_chars",
            (F.col("rk") == 1).alias("keep"),
        )
    )


# q_dedup_lsh_keep: exact-Jaccard acceptance for LSH candidates as an
# integer cross-multiplication (t = 3/5): J ≥ t  ⟺  (den+num)·|∩| ≥ num·(|a|+|b|)
LSH_KEEP_T_NUM = 3
LSH_KEEP_T_DEN = 5


def _lsh_keep_oracle(sweep: bool) -> str:
    """DuckDB replay of the ENTIRE q_dedup_lsh_keep pipeline: minhash
    signatures → banded buckets → MAX_BUCKET guard → candidate pairs →
    exact integer-Jaccard verify on the md5-long shingle sets →
    components → keeper. The sweep form materializes the verified edge
    set into a temp table first — DuckDB 1.0 re-evaluates a plain CTE
    at every recursive reference (found in round 7), and this chain is
    heavy at derived scale factors."""
    from data_wrangler_spark.operators.dedup import (
        MAX_BUCKET,
        _band_union_sql,
        _sig_select_sql,
    )

    body = f"""
    sh0 AS (
      SELECT doc_id, {sql_shingles_of('w', 3)} AS sh
      FROM (SELECT doc_id, {sql_words('text')} AS w FROM documents)),
    hsd AS (
      SELECT doc_id,
             list_distinct(list_transform(sh, s -> {_sql_md5_long('s')})) AS hs
      FROM sh0),
    ex AS (SELECT doc_id, unnest(hs) AS h FROM hsd),
    sig AS (SELECT doc_id, {_sig_select_sql()} FROM sh0),
    bands AS (
      {_band_union_sql('sig')}),
    guarded AS (
      SELECT band, bucket, doc_id FROM (
        SELECT *, COUNT(*) OVER (PARTITION BY band, bucket) AS bsize FROM bands)
      WHERE bsize <= {MAX_BUCKET}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM guarded a
      JOIN guarded b ON a.band = b.band AND a.bucket = b.bucket
                    AND a.doc_id < b.doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS n_inter
      FROM cand c
      JOIN ex a ON a.doc_id = c.doc_a
      JOIN ex b ON b.doc_id = c.doc_b AND b.h = a.h
      GROUP BY 1, 2),
    pairs AS (
      SELECT i.doc_a, i.doc_b
      FROM inter i
      JOIN hsd sa ON sa.doc_id = i.doc_a
      JOIN hsd sb ON sb.doc_id = i.doc_b
      WHERE {LSH_KEEP_T_DEN + LSH_KEEP_T_NUM} * i.n_inter
              >= {LSH_KEEP_T_NUM} * (len(sa.hs) + len(sb.hs)))"""
    if sweep:
        return f"""
    CREATE OR REPLACE TEMP TABLE dlk_edges AS
    WITH {body}
    SELECT doc_a AS src, doc_b AS dst FROM pairs
    UNION ALL
    SELECT doc_b AS src, doc_a AS dst FROM pairs;
    WITH RECURSIVE reach AS (
      SELECT doc_id AS node, doc_id AS label FROM documents
      UNION
      SELECT e.dst AS node, r.label
      FROM reach r JOIN dlk_edges e ON e.src = r.node),
    {_PREFIX_KEEP_TAIL}
    """
    return f"""
    WITH RECURSIVE
    {body},
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM pairs),
    reach AS (
      SELECT doc_id AS node, doc_id AS label FROM documents
      UNION
      SELECT e.dst AS node, r.label FROM reach r JOIN edges e ON e.src = r.node),
    {_PREFIX_KEEP_TAIL}
    """


@register(
    "q_dedup_lsh_keep",
    oracle=_lsh_keep_oracle(sweep=False),
    oracle_sweep=_lsh_keep_oracle(sweep=True),
    tags=("llm", "dedup", "pipeline", "eager"),
)
def q_dedup_lsh_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidates FUSED with the keeper decision — the
    100 TB complement of q_dedup_prefix_keep: candidate generation is
    the banded LSH of q_dedup_minhash (4 bands × 4 rows, md5-derived
    so both engines compute the IDENTICAL buckets), whose MAX_BUCKET
    hot-bucket guard bounds per-bucket pair fan-out BY POLICY — the
    cap that keeps planted-clique corpora from going quadratic, at
    the price of LSH recall (q_dedup_eval grades that trade
    exactly). Candidates are verified with EXACT Jaccard over the
    md5-long shingle sets via an integer cross-multiplication
    ((den+num)·|∩| ≥ num·(|a|+|b|) for t = 3/5) — no doubles anywhere
    in the decision, so both engines accept the identical pair set —
    then flow into min-label components and the per-component keeper
    window: ONE row per doc, pairs never materialize as output.

    Scale: one band-key exchange for candidates — keyed on the 4 raw
    minhash longs (r17 compact form, see dedup._band_table; singleton
    buckets die in the agg; pair emission is array-side, ≤ C(cap,2)
    per bucket by construction) — one sort-merge verify join against
    the cached hashed-set arrays (fixed-width repartition keeps the
    CPU-bound verify spread — AQE's byte-based coalescing would
    funnel it, see prefix_verified_pairs), O(log n) component
    alternations, window over cluster-sized frames."""
    from pyspark import StorageLevel

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "n_chars"
    )
    hs = (
        spread(d, "doc_id")
        .select("doc_id", words("text").alias("w"))
        .select("doc_id", shingles_from_words(F.col("w"), 3).alias("s"))
        .select(
            "doc_id",
            F.array_distinct(F.transform("s", lambda x: _md5_long(x))).alias(
                "hs"
            ),
        )
        .withColumn("n_hs", F.size("hs"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    pin(hs)
    return _keeper_from_pairs(spark, d, lsh_verified_pairs(spark, d, hs))


def lsh_verified_pairs(
    spark: SparkSession, d: DataFrame, hs: DataFrame
) -> DataFrame:
    """The MinHash-LSH candidate+verify pipeline over raw documents
    `d` (doc_id, text, …) and a prepared md5-long shingle-set frame
    `hs` (doc_id, hs, n_hs; persisted by the caller) — factored so
    q_dedup_lsh_keep and the saturation router (q_dedup_keep_auto)
    share one implementation. Returns verified (doc_a, doc_b) with
    exact integer-Jaccard ≥ 3/5."""
    from data_wrangler_spark.operators.dedup import (
        BAND_KEY,
        MAX_BUCKET,
        _band_table,
        _minhash_signatures,
    )

    # compact band keys (guide §2.3): exchange keyed on the 4 raw
    # minhash longs, not the '|'-joined string — injective, identical
    # grouping (see dedup._band_table)
    buckets = (
        _band_table(_minhash_signatures(d))
        .groupBy(*BAND_KEY)
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ds"))
        .filter((F.size("ds") >= 2) & (F.size("ds") <= MAX_BUCKET))
    )
    # pair emission as TWO CHAINED GENERATORS (posexplode the anchor,
    # explode its tail slice — the prefix_verified_pairs pattern):
    # rows stream through codegen with O(k) task memory; a single
    # flatten(transform(...)) would materialize all C(k,2) pair
    # structs of a bucket in one array value (~500k structs / ~8 MB
    # per row at MAX_BUCKET) — the OOM hazard ADVICE r8 #2 flagged.
    cand = (
        buckets.select(F.posexplode("ds").alias("i", "doc_a"), "ds")
        .select(
            "doc_a",
            F.explode(
                F.expr("slice(ds, i + 2, size(ds) - i - 1)")
            ).alias("doc_b"),
        )
        .filter(F.col("doc_a") != F.col("doc_b"))
        .distinct()
    )
    # same AQE-funnel guard as prefix_verified_pairs: candidate rows
    # are tiny in bytes but each costs an array_intersect
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    cand = cand.repartition(n_part, "doc_a")
    sa = hs.select(
        F.col("doc_id").alias("doc_a"),
        F.col("hs").alias("hs_a"),
        F.col("n_hs").alias("n_a"),
    )
    sb = hs.select(
        F.col("doc_id").alias("doc_b"),
        F.col("hs").alias("hs_b"),
        F.col("n_hs").alias("n_b"),
    )
    pairs = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("n_inter", F.size(F.array_intersect("hs_a", "hs_b")))
        .filter(
            (LSH_KEEP_T_DEN + LSH_KEEP_T_NUM) * F.col("n_inter")
            >= LSH_KEEP_T_NUM * (F.col("n_a") + F.col("n_b"))
        )
        .select("doc_a", "doc_b")
    )
    return pairs


# ── q_dedup_keep_auto (VERDICT r15 #1): the saturation ROUTER ──────
# The recorded policy "use the capped LSH family on dictionary-
# saturating corpora" as ONE registered operator: pre-flight the
# PPJoin saturation guard's own aggregate, run the exact prefix
# keeper under the bound, and route to the MAX_BUCKET-capped LSH
# keeper above it. Both branches exact-oracle; the router's oracle
# replays the SAME all-integer decision from the SAME prefix-postings
# aggregate (possible because the fused keepers feed md5-long tokens
# to prefix_verified_pairs, so the (df, tok) prefix order is
# engine-replayable — see prefix_verified_pairs).


def _keep_auto_oracle(sweep: bool) -> str:
    """DuckDB replay of the ENTIRE router: rebuild the prefix
    postings over the md5-long tokens, take the identical integer
    routing decision Σk(k−1) ≤ 2·CAP·n_docs, then evaluate ONLY the
    routed branch — each branch's scan CTE is gated on the decision
    scalar, so the un-routed branch's joins run over empty inputs
    (linear scans, no quadratic work; critical at the f5 saturating
    fixture where the exact branch would otherwise melt DuckDB too).
    Branch bodies are the existing q_dedup_prefix_keep /
    q_dedup_lsh_keep oracles verbatim; one shared recursive
    components+keeper tail consumes whichever edge set is non-empty."""
    from data_wrangler_spark.operators.dedup import (
        MAX_BUCKET,
        PREFIX_CAND_PER_DOC,
        _band_union_sql,
        _sig_select_sql,
    )

    cap = int(PREFIX_CAND_PER_DOC)
    t = PREFIX_JACCARD_T
    body = f"""
    sh0 AS (
      SELECT doc_id, {sql_shingles_of('w', 3)} AS sh
      FROM (SELECT doc_id, {sql_words('text')} AS w FROM documents)),
    hsd AS (
      SELECT doc_id,
             list_distinct(list_transform(sh, s -> {_sql_md5_long('s')})) AS hs
      FROM sh0),
    ex AS (SELECT doc_id, len(hs) AS n_sh, unnest(hs) AS h FROM hsd),
    dfr AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS df FROM ex GROUP BY h),
    rk AS (
      SELECT e.doc_id, e.n_sh, e.h,
             ROW_NUMBER() OVER (PARTITION BY e.doc_id
                                ORDER BY f.df, e.h) AS r
      FROM ex e JOIN dfr f USING (h)),
    pfx AS (SELECT h FROM rk WHERE r <= n_sh - CEIL({t} * n_sh) + 1),
    bks AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS k
            FROM pfx GROUP BY h HAVING COUNT(*) >= 2),
    stat AS (
      SELECT COALESCE(SUM(k * (k - 1)), 0)
               <= 2 * {cap} * (SELECT COUNT(*) FROM hsd) AS go_exact
      FROM bks),
    eex AS (SELECT doc_id, h FROM ex WHERE (SELECT go_exact FROM stat)),
    einter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(COUNT(*) AS BIGINT) AS n_inter
      FROM eex a JOIN eex b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    epairs AS (
      SELECT i.doc_a, i.doc_b
      FROM einter i
      JOIN hsd sa ON sa.doc_id = i.doc_a
      JOIN hsd sb ON sb.doc_id = i.doc_b
      WHERE CAST(i.n_inter AS DOUBLE)
              / (len(sa.hs) + len(sb.hs) - i.n_inter) >= {t}),
    lsh0 AS (SELECT doc_id, sh FROM sh0
             WHERE NOT (SELECT go_exact FROM stat)),
    sig AS (SELECT doc_id, {_sig_select_sql()} FROM lsh0),
    bands AS (
      {_band_union_sql('sig')}),
    guarded AS (
      SELECT band, bucket, doc_id FROM (
        SELECT *, COUNT(*) OVER (PARTITION BY band, bucket) AS bsize
        FROM bands)
      WHERE bsize <= {MAX_BUCKET}),
    lcand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM guarded a
      JOIN guarded b ON a.band = b.band AND a.bucket = b.bucket
                    AND a.doc_id < b.doc_id),
    lex AS (SELECT doc_id, h FROM ex
            WHERE NOT (SELECT go_exact FROM stat)),
    linter AS (
      SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS n_inter
      FROM lcand c
      JOIN lex a ON a.doc_id = c.doc_a
      JOIN lex b ON b.doc_id = c.doc_b AND b.h = a.h
      GROUP BY 1, 2),
    lpairs AS (
      SELECT i.doc_a, i.doc_b
      FROM linter i
      JOIN hsd sa ON sa.doc_id = i.doc_a
      JOIN hsd sb ON sb.doc_id = i.doc_b
      WHERE {LSH_KEEP_T_DEN + LSH_KEEP_T_NUM} * i.n_inter
              >= {LSH_KEEP_T_NUM} * (len(sa.hs) + len(sb.hs))),
    allp AS (SELECT doc_a, doc_b FROM epairs
             UNION ALL SELECT doc_a, doc_b FROM lpairs)"""
    tail = f"""
    comp AS (SELECT node AS doc_id, MIN(label) AS component
             FROM reach GROUP BY node),
    ranked AS (
      SELECT c.doc_id, c.component, d.n_chars,
             ROW_NUMBER() OVER (PARTITION BY c.component
                                ORDER BY d.n_chars DESC, c.doc_id) AS rk
      FROM comp c JOIN documents d USING (doc_id))
    SELECT doc_id, component, n_chars, (rk = 1) AS keep,
           CASE WHEN (SELECT go_exact FROM {{stat_src}}) THEN 'exact'
                ELSE 'lsh' END AS route
    FROM ranked
    """
    if sweep:
        return f"""
    CREATE OR REPLACE TEMP TABLE dka_stat AS
    WITH {body}
    SELECT go_exact FROM stat;
    CREATE OR REPLACE TEMP TABLE dka_edges AS
    WITH {body}
    SELECT doc_a AS src, doc_b AS dst FROM allp
    UNION ALL
    SELECT doc_b AS src, doc_a AS dst FROM allp;
    WITH RECURSIVE reach AS (
      SELECT doc_id AS node, doc_id AS label FROM documents
      UNION
      SELECT e.dst AS node, r.label
      FROM reach r JOIN dka_edges e ON e.src = r.node),
    {tail.format(stat_src='dka_stat')}
    """
    return f"""
    WITH RECURSIVE
    {body},
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM allp
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM allp),
    reach AS (
      SELECT doc_id AS node, doc_id AS label FROM documents
      UNION
      SELECT e.dst AS node, r.label
      FROM reach r JOIN edges e ON e.src = r.node),
    {tail.format(stat_src='stat')}
    """


@register(
    "q_dedup_keep_auto",
    oracle=_keep_auto_oracle(sweep=False),
    oracle_sweep=_keep_auto_oracle(sweep=True),
    tags=("llm", "dedup", "pipeline", "eager"),
)
def q_dedup_keep_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Saturation-ROUTED dedup keeper (VERDICT r15 #1) — the recorded
    "capped family on saturating corpora" policy as one operator:
    run the exact PPJoin keeper (q_dedup_prefix_keep's path) under
    the saturation guard's candidate bound, and when the guard
    REFUSES (the corpus's shingle dictionary saturates, so prefix
    rarity cannot prune and the exact join is candidate-quadratic),
    fall back to the MAX_BUCKET-capped LSH keeper (q_dedup_lsh_keep's
    path) whose per-bucket fan-out is bounded BY POLICY regardless of
    corpus shape. The router does not re-implement the decision: it
    reads the verdict of the guard frame prefix_verified_pairs
    returns (one .first(), the builder's only action), so the routing
    aggregate IS the enforced guard's (dedup.py, the Σk(k−1) ≤
    2·CAP·n integer comparison over the md5-long prefix postings),
    taken with the HARD default bound — the env escape hatch
    deliberately does not apply, or the oracle could not replay the
    decision.

    Output: one row per doc (doc_id, component, n_chars, keep) plus
    the route actually taken ('exact' | 'lsh') on every row, so the
    decision itself is part of the hash-checked contract.

    Scale: the verdict costs the prefix-postings index build that
    the exact branch was about to consume anyway (the persisted
    frame is reused on the accept path and released with the
    caller's pins on the refuse path); the LSH fallback touches the
    corpus only through the banded signature exchange. Wall-clock on
    a saturating corpus is therefore index-build + LSH — never any
    quadratic stage — which is the whole point: at 100 TB this query
    is safe to run UNSEEN on any corpus."""
    from pyspark import StorageLevel

    from data_wrangler_spark.operators.dedup import (
        PREFIX_CAND_PER_DOC,
        prefix_verified_pairs,
    )

    t = PREFIX_JACCARD_T
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "n_chars"
    )
    hs = (
        spread(d, "doc_id")
        .select("doc_id", words("text").alias("w"))
        .select("doc_id", shingles_from_words(F.col("w"), 3).alias("s"))
        .select(
            "doc_id",
            F.array_distinct(
                F.transform("s", lambda x: _md5_long(x))
            ).alias("shingles"),
        )
        .withColumn("n_sh", F.size("shingles"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    pin(hs)
    pairs, guard = prefix_verified_pairs(spark, hs, t, bound=PREFIX_CAND_PER_DOC)
    if guard.first()["ok"]:
        pairs = pairs.select("doc_a", "doc_b")
        route = "exact"
    else:
        pairs = lsh_verified_pairs(
            spark,
            d,
            hs.select(
                "doc_id",
                F.col("shingles").alias("hs"),
                F.col("n_sh").alias("n_hs"),
            ),
        )
        route = "lsh"
    return _keeper_from_pairs(spark, d, pairs).withColumn(
        "route", F.lit(route)
    )


# ── q_corpus_pipeline_incremental (VERDICT r8 #3) ──────────────────
# The daily-ingest production shape: the WHOLE selection pipeline —
# near-dedup vs history, quality gate, survivor-population cap,
# train split — runs over the new batch only. History contributes a
# persisted LSH band index (q_dedup_incremental's) and a persisted
# per-source survivor counter; it is never rescanned, never re-paired.

# v2: counter semantics gained the stage-2.5 decontamination gate in
# round 10 — the path bump invalidates r9 counters that would
# otherwise read as fresh behind their completeness marker
_PIPE_INC_SCRATCH = f"{ROOT}/pipeline_inc_v2"


def _pipe_inc_oracle() -> str:
    from data_wrangler_spark.operators.dedup import (
        INC_EXIST_PCT,
        INC_JAC_MICRO,
        MAX_BUCKET,
        _band_union_sql,
        _sig_select_sql,
    )
    from data_wrangler_spark.operators.text_analysis import (
        GOPHER_MAX_MEAN_WLEN,
        GOPHER_MAX_SHORT_FRAC,
        GOPHER_MAX_WORDS,
        GOPHER_MIN_MEAN_WLEN,
        GOPHER_MIN_STOPWORD_HITS,
        GOPHER_MIN_WORDS,
    )

    return f"""
    WITH sh AS (
      SELECT doc_id, {sql_shingles_of('w', 3)} AS sh
      FROM (SELECT doc_id, {sql_words('text')} AS w FROM documents)),
    sig AS (SELECT doc_id, {_sig_select_sql()} FROM sh),
    sig_ex AS (SELECT * FROM sig WHERE doc_id % 10 < {INC_EXIST_PCT}),
    sig_new AS (SELECT * FROM sig WHERE doc_id % 10 >= {INC_EXIST_PCT}),
    bands_ex AS ({_band_union_sql('sig_ex')}),
    bands_new AS ({_band_union_sql('sig_new')}),
    index_g AS (
      SELECT band, bucket, doc_id FROM (
        SELECT *, COUNT(*) OVER (PARTITION BY band, bucket) AS bsize
        FROM bands_ex)
      WHERE bsize <= {MAX_BUCKET}),
    cand AS (
      SELECT DISTINCT n.doc_id AS doc_new, e.doc_id AS doc_old
      FROM bands_new n
      JOIN index_g e ON e.band = n.band AND e.bucket = n.bucket),
    shd AS (SELECT doc_id, list_distinct(sh) AS s FROM sh),
    dup_new AS (
      SELECT DISTINCT c.doc_new AS doc_id
      FROM cand c
      JOIN shd a ON a.doc_id = c.doc_new
      JOIN shd b ON b.doc_id = c.doc_old
      WHERE (len(list_intersect(a.s, b.s)) * 1000000)
              // (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
            >= {INC_JAC_MICRO}),
    quality AS (
      SELECT doc_id FROM (
        SELECT doc_id, {sql_words('text')} AS w FROM documents)
      WHERE len(w) BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
        AND CAST(len(array_to_string(w, '')) AS DOUBLE) / len(w)
              BETWEEN {GOPHER_MIN_MEAN_WLEN} AND {GOPHER_MAX_MEAN_WLEN}
        AND CAST(len(list_filter(w, x -> length(x) <= 3)) AS DOUBLE) / len(w)
              <= {GOPHER_MAX_SHORT_FRAC}
        AND ({_GOPHER_HITS_SQL}) >= {GOPHER_MIN_STOPWORD_HITS}),
    toks5 AS (
      SELECT doc_id, source, {sql_words('text')} AS w FROM documents),
    evset AS (
      SELECT DISTINCT g FROM (
        SELECT unnest({sql_shingles_of('w', CONTAM_NGRAM)}) AS g
        FROM toks5 WHERE source = '{CONTAM_EVAL_SOURCE}')),
    leaky AS (
      SELECT DISTINCT doc_id FROM (
        SELECT doc_id, unnest({sql_shingles_of('w', CONTAM_NGRAM)}) AS g
        FROM toks5 WHERE source <> '{CONTAM_EVAL_SOURCE}')
      WHERE g IN (SELECT g FROM evset)),
    new_keeper AS (
      SELECT doc_id FROM (
        SELECT doc_id,
               ROW_NUMBER() OVER (PARTITION BY md5(lower(trim(text)))
                                  ORDER BY doc_id) AS rn
        FROM documents WHERE doc_id % 10 >= {INC_EXIST_PCT})
      WHERE rn = 1),
    new_surv AS (
      SELECT d.doc_id, d.lang, d.source, d.n_chars
      FROM documents d
      JOIN new_keeper k USING (doc_id)
      JOIN quality q USING (doc_id)
      WHERE d.doc_id % 10 >= {INC_EXIST_PCT}
        AND d.source <> '{CONTAM_EVAL_SOURCE}'
        AND d.doc_id NOT IN (SELECT doc_id FROM leaky)
        AND d.doc_id NOT IN (SELECT doc_id FROM dup_new)),
    exist_keeper AS (
      SELECT doc_id FROM (
        SELECT doc_id,
               ROW_NUMBER() OVER (PARTITION BY md5(lower(trim(text)))
                                  ORDER BY doc_id) AS rn
        FROM documents WHERE doc_id % 10 < {INC_EXIST_PCT})
      WHERE rn = 1),
    exist_surv AS (
      SELECT d.doc_id, d.source
      FROM documents d
      JOIN exist_keeper k USING (doc_id)
      JOIN quality q USING (doc_id)
      WHERE d.doc_id % 10 < {INC_EXIST_PCT}
        AND d.source <> '{CONTAM_EVAL_SOURCE}'
        AND d.doc_id NOT IN (SELECT doc_id FROM leaky)),
    prior AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_src
      FROM exist_surv GROUP BY 1),
    tot AS (
      SELECT CAST((SELECT COUNT(*) FROM exist_surv)
                  + (SELECT COUNT(*) FROM new_surv) AS BIGINT) AS n_all),
    ranked AS (
      SELECT s.*, CAST(ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY {_sql_md5_long("CAST(doc_id AS VARCHAR)", seed=11)},
                        doc_id) AS BIGINT) AS rk
      FROM new_surv s)
    SELECT r.doc_id, r.lang, r.source, r.n_chars,
           COALESCE(p.n_src, 0) + r.rk AS cum_rank
    FROM ranked r
    LEFT JOIN prior p USING (source), tot
    WHERE COALESCE(p.n_src, 0) + r.rk
            <= (tot.n_all * {DOMAIN_CAP_PCT} + 99) // 100
      AND {_sql_md5_long("CAST(r.doc_id AS VARCHAR)", SPLIT_SEED)} % 10 < 8
    """


@register(
    "q_corpus_pipeline_incremental",
    oracle=_pipe_inc_oracle(),
    tags=("llm", "pipeline"),
)
def q_corpus_pipeline_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus pipeline as a DAILY INGEST — q_corpus_pipeline's
    selection semantics (dedup → quality → survivor-population cap →
    train split) restated so the whole pipeline costs O(new batch),
    not O(corpus). Docs with doc_id % 10 < INC_EXIST_PCT play the
    already-ingested history; the rest are today's batch. Stages:

    1. near-dedup vs HISTORY through the persisted LSH band index
       (q_dedup_incremental, composed via the registry — index built
       once, probed by one band-key equi-join, candidates
       verified by exact integer Jaccard ≥ 0.5): a new doc matching
       history is dropped;
    2. exact dedup WITHIN the batch (md5 keeper rank — the cheap
       in-batch pass production runs before the index probe);
    2.5. ingest-time DECONTAMINATION (round 10): eval-source docs
       never enter training, and new train docs sharing ≥1 word
       5-gram with the held-out eval slice are dropped via
       q_contamination_incremental's PERSISTED eval-gram index
       (composed via the registry — built once, probed by one gram
       equi-join);
    3. the Gopher quality gate on batch survivors;
    4. the per-source cap recomputed over the POST-INGEST survivor
       population: history contributes a PERSISTED per-source
       survivor counter (built once, like the index — history is
       never rescanned; it replays the SAME gates, decontamination
       included, so history counts what a same-pipeline ingest would
       have kept), and a new doc is kept iff prior_kept(source)
       + its seeded rank among new survivors stays within
       ceil(DOMAIN_CAP_PCT% of the updated total);
    5. the train-split hash on what remains.

    The DuckDB oracle replays ALL of it from raw text — band-index
    build, probe, verify, eval-gram index build and probe, both
    survivor populations, counter, cap, split — proving all three
    persisted hops (band index, eval-gram index, source counter) are
    lossless.

    Scale: per ingest the history-touching work is ONE equi-join
    against the stored index and ONE broadcast of the (tiny) source
    counter; everything else — signatures, quality scan, in-batch
    window, rank window — is over the new batch. Cross-factor
    timings in SCALE.md pin the claim: wall time tracks batch size,
    not corpus size."""
    from data_wrangler_spark.operators.dedup import INC_EXIST_PCT
    from data_wrangler_spark.registry import REGISTRY

    d = load_table(spark, sf_dir, "documents")
    exist = F.col("doc_id") % 10 < INC_EXIST_PCT

    # stage 1: dup-of-history ids via the persisted-index probe
    dup_new = (
        REGISTRY["q_dedup_incremental"]
        .run(spark, sf_dir)
        .select(F.col("doc_new").alias("doc_id"))
        .distinct()
    )

    # stage 2.5: ingest-time decontamination, composed via the
    # registry — running the builder also guarantees the persisted
    # eval-gram index exists before the counter block reads it below
    contam_drop = (
        REGISTRY["q_contamination_incremental"]
        .run(spark, sf_dir)
        .filter(F.col("drop_doc"))
        .select("doc_id")
    )

    # stage 3 gate (shared SQL semantics with q_corpus_pipeline)
    quality = (
        REGISTRY["q_quality_gopher"]
        .run(spark, sf_dir)
        .filter(F.col("passes"))
        .select("doc_id")
    )

    # stage 2: in-batch exact keeper
    new_d = d.filter(~exist)
    keeper_w = Window.partitionBy(F.md5(F.lower(F.trim("text")))).orderBy("doc_id")
    new_keeper = (
        new_d.withColumn("rn", F.row_number().over(keeper_w))
        .filter(F.col("rn") == 1)
        .select("doc_id")
    )
    new_surv = (
        new_d.select("doc_id", "lang", "source", "n_chars")
        .filter(F.col("source") != CONTAM_EVAL_SOURCE)
        .join(new_keeper, "doc_id")
        .join(quality, "doc_id")
        .join(contam_drop, "doc_id", "left_anti")
        .join(dup_new, "doc_id", "left_anti")
    )
    pin(new_surv.persist())

    # stage 4: persisted per-source history-survivor counter —
    # built ONCE per corpus (the only time history is scanned), then
    # a broadcast-sized read forever after
    # the counter's governing semantics key its cache: a change to the
    # split, gram size, eval source, or counter schema invalidates
    # automatically (r10 review — no more manual _v2 renames)
    # the key folds in EVERY gate the counter bakes in — split,
    # decontamination, AND the Gopher quality thresholds (r10 review:
    # omitting the quality constants would serve a stale counter
    # after a GOPHER_* change, the exact trap params-keying closes)
    from data_wrangler_spark.operators.text_analysis import (
        GOPHER_MAX_MEAN_WLEN,
        GOPHER_MAX_SHORT_FRAC,
        GOPHER_MAX_WORDS,
        GOPHER_MIN_MEAN_WLEN,
        GOPHER_MIN_STOPWORD_HITS,
        GOPHER_MIN_WORDS,
        GOPHER_STOPWORDS,
    )

    # the stopword SET is hashed, not length-proxied (ADVICE r10 #2):
    # swapping one stopword for another keeps len() constant but
    # changes which docs pass the gate — a content hash invalidates
    # on any edit.
    import hashlib as _hl

    _sw_hash = _hl.md5(
        ",".join(sorted(GOPHER_STOPWORDS)).encode()
    ).hexdigest()[:12]
    counter_params = (
        f"exist={INC_EXIST_PCT},ngram={CONTAM_NGRAM},"
        f"eval={CONTAM_EVAL_SOURCE},schema=2,"
        f"gopher={GOPHER_MIN_WORDS}-{GOPHER_MAX_WORDS}-"
        f"{GOPHER_MIN_MEAN_WLEN}-{GOPHER_MAX_MEAN_WLEN}-"
        f"{GOPHER_MAX_SHORT_FRAC}-{GOPHER_MIN_STOPWORD_HITS}-"
        f"{_sw_hash}"
    )

    def build(p: str) -> None:
        exist_d = d.filter(exist)
        ek = (
            exist_d.withColumn("rn", F.row_number().over(keeper_w))
            .filter(F.col("rn") == 1)
            .select("doc_id")
        )
        # history replays the decontamination gate (stage 2.5): the
        # counter must count what a same-pipeline ingest would have
        # kept. ensure_contam_index is self-healing (builds the
        # eval-gram index if missing — no ordering dependence on the
        # stage-2.5 run above); history docs probe it once here —
        # the only time history text is scanned. _doc_grams is the
        # same gram definition the gate used.
        evset = ensure_contam_index(spark, sf_dir)
        leaky_ex = (
            _doc_grams(exist_d.filter(F.col("source") != CONTAM_EVAL_SOURCE))
            .join(evset, "g", "left_semi")
            .select("doc_id")
            .distinct()
        )
        (
            exist_d.select("doc_id", "source")
            .filter(F.col("source") != CONTAM_EVAL_SOURCE)
            .join(ek, "doc_id")
            .join(quality, "doc_id")
            .join(leaky_ex, "doc_id", "left_anti")
            .groupBy("source")
            .agg(F.count("*").cast("bigint").alias("n_src"))
            .coalesce(1)
            .write.parquet(p)
        )

    path = materialize(
        f"{_PIPE_INC_SCRATCH}/{scratch_tag(sf_dir, 'documents', counter_params)}",
        build,
    )
    prior = read_parquet(spark, path)

    # coalesce: SUM over an empty prior counter is NULL, which would
    # make the cap predicate NULL and drop every new-batch row — the
    # oracle's COUNT(*)-based total is 0 and still emits capped docs
    # (ADVICE r9 #1), so an empty history must read as 0 here too.
    n_exist = prior.agg(
        F.coalesce(F.sum("n_src"), F.lit(0)).cast("bigint").alias("n_exist")
    )
    n_new = new_surv.agg(F.count("*").cast("bigint").alias("n_new"))
    cap_w = Window.partitionBy("source").orderBy(
        _md5_long(F.col("doc_id").cast("string"), 11), "doc_id"
    )
    ranked = new_surv.withColumn("rk", F.row_number().over(cap_w).cast("bigint"))
    split_h = _md5_long(F.col("doc_id").cast("string"), SPLIT_SEED) % 10
    return (
        ranked.join(F.broadcast(prior), "source", "left")
        .withColumn("cum_rank", F.coalesce(F.col("n_src"), F.lit(0)) + F.col("rk"))
        .crossJoin(F.broadcast(n_exist))
        .crossJoin(F.broadcast(n_new))
        .filter(
            (
                F.col("cum_rank")
                <= F.expr(f"div((n_exist + n_new) * {DOMAIN_CAP_PCT} + 99, 100)")
            )
            & (split_h < 8)
        )
        .select("doc_id", "lang", "source", "n_chars", "cum_rank")
    )


# sqrt-temperature mixture SELECTION (α = 0.5): q_mix_temperature
# (llm_extras.py) computes the per-source weights and target counts;
# this op executes the selection — per-LANGUAGE here, materializing
# the sampled doc set by deterministic hash order. α=0.5 keeps the
# power an IEEE sqrt (bit-replayable; see q_mix_temperature's doc).
MIX_TEMP_BUDGET_DIV = 2  # sample budget = total docs DIV 2


def _mix_temperature_sample_oracle() -> str:
    return f"""
    WITH avail AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY 1),
    wq AS (
      SELECT lang, n,
             CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1000000) AS BIGINT)
               AS w_micro
      FROM avail),
    tot AS (
      SELECT CAST(SUM(w_micro) AS BIGINT) AS tw,
             CAST(SUM(n) AS BIGINT) // {MIX_TEMP_BUDGET_DIV} AS b
      FROM wq),
    quota AS (
      SELECT w.lang, (t.b * w.w_micro) // t.tw AS lang_quota
      FROM wq w, tot t),
    ranked AS (
      SELECT d.doc_id, d.lang,
             ROW_NUMBER() OVER (
               PARTITION BY d.lang
               ORDER BY {_sql_md5_long("CAST(d.doc_id AS VARCHAR)")}, d.doc_id
             ) AS rk
      FROM documents d)
    SELECT r.doc_id, r.lang, CAST(r.rk AS INT) AS rk, q.lang_quota
    FROM ranked r JOIN quota q ON q.lang = r.lang
    WHERE r.rk <= q.lang_quota
    """


@register(
    "q_mix_temperature_sample",
    oracle=_mix_temperature_sample_oracle(),
    tags=("llm", "pipeline", "mixing"),
)
def q_mix_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture sampling — the data-derived
    sibling of q_mix_proportions: instead of fixed target weights,
    each language's share of the sample budget is proportional to
    n^α (α = 0.5), the standard temperature flattening that
    up-samples low-resource languages relative to their raw share.
    q_mix_temperature (llm_extras.py) publishes the per-SOURCE
    weights/targets of this rule; this op EXECUTES the selection
    per language, returning the sampled docs themselves.
    Budget = half the corpus; quotaₗ =
    B·⌊√nₗ·10⁶⌋ ÷ Σ⌊√n·10⁶⌋ in pure BIGINT after the one
    floor-quantization; docs are chosen per language by
    deterministic md5-hash order (uniform, reproducible — never
    "first N ids"). Output: the sampled mix (doc_id, lang, rk,
    lang_quota).

    Scale: per-language counts are one partial-agg pass; the quota
    table is |langs| rows crossed with a 1-row total (broadcast);
    selection is the one window shuffle on lang every hash-ordered
    sampler here shares. At 100 TB the same plan stands — the only
    data-sized stage is the rank window, and a per-partition top-K
    pushdown applies since quotas are known before the window
    runs."""
    d = load_table(spark, sf_dir, "documents")
    avail = d.groupBy("lang").agg(F.count("*").cast("long").alias("n"))
    wq = avail.select(
        "lang",
        "n",
        F.floor(F.sqrt(F.col("n").cast("double")) * 1000000)
        .cast("long")
        .alias("w_micro"),
    )
    tot = wq.agg(
        F.sum("w_micro").cast("long").alias("tw"),
        F.expr(f"div(cast(sum(n) as bigint), {MIX_TEMP_BUDGET_DIV})").alias(
            "b"
        ),
    )
    quota = (
        F.broadcast(wq)
        .crossJoin(F.broadcast(tot))
        .select("lang", F.expr("div(b * w_micro, tw)").alias("lang_quota"))
    )
    rk_w = Window.partitionBy("lang").orderBy(
        _md5_long(F.col("doc_id").cast("string")), "doc_id"
    )
    ranked = d.select(
        "doc_id", "lang", F.row_number().over(rk_w).alias("rk")
    )
    return (
        ranked.join(F.broadcast(quota), "lang")
        .filter(F.col("rk") <= F.col("lang_quota"))
        .select("doc_id", "lang", "rk", "lang_quota")
    )
