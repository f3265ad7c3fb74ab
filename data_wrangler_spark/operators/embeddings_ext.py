"""Embedding-column operators beyond similarity search: per-label
centroids, k-NN classification, L2 normalization.

The reference gateway has no vector support at all (its only typed
surface is SQL rows — SURVEY.md §2.4); these extend the engine's
`array<float>` column family (similarity.py) with the aggregate and
classification shapes an embedding pipeline needs. All exact DuckDB
oracles: vector arithmetic reuses the fold-parity helpers in
functions/vectors.py (left-assoc fold ≡ list_reduce), and centroid
means use decimal sums per dimension so the result is
partition-order independent.

Scale notes:
- centroid: posexplode multiplies rows by dim (64×) but the partial
  hash agg collapses to |labels|·dim per partition before the
  shuffle — network cost is the centroid grid, not the corpus.
- knn: |queries| is small and broadcast; the neighbor scan is one
  pass, per-query top-k via rank-limit pushdown (no global sort).
- normalize: pure scan-side expression, no shuffle at all.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from data_wrangler_spark.catalog import load_table
from data_wrangler_spark.functions.vectors import (
    cosine,
    micro_csv,
    norm,
    sql_cosine,
    sql_micro_csv,
    sql_norm,
    to_double_array,
)
from data_wrangler_spark.registry import register

KNN_K = 15
KNN_N_QUERIES = 5


@register(
    "q_embed_centroid",
    oracle=f"""
    WITH ex AS (
      SELECT label, CAST(i AS INT) AS pos,
             CAST(embedding[i] AS DOUBLE) AS val
      FROM embeddings, LATERAL unnest(range(1, len(embedding) + 1)) AS t(i)),
    dims AS (
      SELECT label, pos,
             CAST(SUM(CAST(val AS DECIMAL(22,6))) AS DOUBLE) / COUNT(*) AS avgv
      FROM ex GROUP BY 1, 2),
    cents AS (
      SELECT label, {sql_micro_csv('list(avgv ORDER BY pos)')} AS centroid
      FROM dims GROUP BY 1),
    counts AS (
      SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs FROM embeddings GROUP BY 1)
    SELECT c.label, n.n_vecs, c.centroid
    FROM cents c JOIN counts n USING (label)
    """,
    tags=("llm", "embedding"),
)
def q_embed_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid vector — the building block of IVF coarse
    quantizers, k-means steps, and class prototypes. posexplode to
    (label, pos, val), exact decimal mean per (label, pos), then
    reassemble ordered arrays. The per-dimension decimal sum makes
    every centroid component bit-equal regardless of partitioning —
    the property that lets an iterative k-means converge identically
    on any cluster layout."""
    e = load_table(spark, sf_dir, "embeddings")
    ex = e.select(
        "label", F.posexplode(to_double_array("embedding")).alias("pos0", "val")
    ).select("label", (F.col("pos0") + 1).cast("int").alias("pos"), "val")
    dims = ex.groupBy("label", "pos").agg(
        (F.sum(F.col("val").cast("decimal(22,6)")).cast("double") / F.count("*")).alias(
            "avgv"
        )
    )
    cents = (
        dims.groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "avgv"))).alias("pairs"))
        .select(
            # fixed-point CSV, not a raw array: the driver harness
            # hashes cells and can't canonicalize lists (micro_csv).
            "label",
            micro_csv(F.transform("pairs", lambda p: p["avgv"])).alias("centroid"),
        )
    )
    counts = e.groupBy("label").agg(F.count("*").alias("n_vecs"))
    return cents.join(counts, "label").select("label", "n_vecs", "centroid")


@register(
    "q_knn_classify",
    oracle=f"""
    WITH base AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings),
    q AS (
      SELECT vec_id AS query_id, e AS qe
      FROM base ORDER BY vec_id LIMIT {KNN_N_QUERIES}),
    scored AS (
      SELECT q.query_id, b.vec_id, b.label,
             {sql_cosine('b.e', 'q.qe')} AS cos_sim,
             ROW_NUMBER() OVER (
               PARTITION BY q.query_id
               ORDER BY {sql_cosine('b.e', 'q.qe')} DESC, b.vec_id) AS rk
      FROM base b, q
      WHERE b.vec_id NOT IN (SELECT query_id FROM q)),
    votes AS (
      SELECT query_id, label, CAST(COUNT(*) AS BIGINT) AS votes
      FROM scored WHERE rk <= {KNN_K} GROUP BY 1, 2),
    best AS (
      SELECT query_id, label AS pred_label, votes,
             ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY votes DESC, label) AS vr
      FROM votes)
    SELECT query_id, pred_label, votes FROM best WHERE vr = 1
    """,
    tags=("llm", "embedding", "similarity"),
)
def q_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN majority-vote classification: for each of the first
    {n_q} vectors, find the {k} nearest neighbors by cosine among the
    rest and vote on the label (ties → smallest label). The query set
    is broadcast; the corpus is scanned once and each row scores
    against all queries in-expression; per-query top-k goes through
    the rank-limit pushdown (per-partition heaps, no global sort).
    Exactness: the fold-ordered cosine is bit-equal to the oracle's
    list_reduce, so ranks — and therefore votes — agree exactly."""
    e = load_table(spark, sf_dir, "embeddings")
    base = e.select("vec_id", "label", to_double_array("embedding").alias("e"))
    q = (
        base.orderBy("vec_id")
        .limit(KNN_N_QUERIES)
        .select(F.col("vec_id").alias("query_id"), F.col("e").alias("qe"))
    )
    scored = (
        base.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .join(
            F.broadcast(q.select(F.col("query_id").alias("qid2"))),
            F.col("vec_id") == F.col("qid2"),
            "left_anti",
        )
        .select(
            "query_id",
            "vec_id",
            "label",
            cosine(F.col("e"), F.col("qe")).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), "vec_id")
    topk = scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= KNN_K)
    votes = topk.groupBy("query_id", "label").agg(F.count("*").alias("votes"))
    wv = Window.partitionBy("query_id").orderBy(F.col("votes").desc(), "label")
    return (
        votes.withColumn("vr", F.row_number().over(wv))
        .filter(F.col("vr") == 1)
        .select("query_id", F.col("label").alias("pred_label"), "votes")
    )


@register(
    "q_embed_norm",
    oracle=f"""
    SELECT vec_id, label,
           {sql_norm('embedding')} AS l2_norm,
           CAST(embedding[1] AS DOUBLE) / {sql_norm('embedding')} AS first_component
    FROM embeddings
    """,
    tags=("llm", "embedding"),
)
def q_embed_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 normalization — the preprocessing step that turns cosine
    into dot product (what every ANN index assumes). Pure scan-side
    expression: no shuffle, stays inside whole-stage codegen, and the
    fold-ordered norm is bit-equal to the oracle. Projecting the
    first normalized component keeps the harness comparison scalar
    while the full normalized array is one `transform` away."""
    e = load_table(spark, sf_dir, "embeddings")
    ed = to_double_array("embedding")
    n = norm(ed)
    return e.select(
        "vec_id",
        "label",
        n.alias("l2_norm"),
        (F.element_at(ed, 1) / n).alias("first_component"),
    )


KM_K = 8        # clusters
KM_ITER = 4     # update rounds
KM_Q = 1 << 20  # quantization: float component ×2^20, floored
# local-fit cutover: fit sets at or under this many vectors are
# collected once and fit in driver numpy (≤ ~128 MB of int64
# components at dim 64 — a bounded operand, like a broadcast side);
# larger fit sets use the distributed per-iteration partials loop
KM_FIT_LOCAL_MAX = 1 << 18


def kmeans_cte_sql(k: int = KM_K, fit_where: str = "", suffix: str = "") -> str:
    """Shared DuckDB CTE body for the integer k-means (no leading
    WITH): quantized components `v`, the recursive centroid table
    `cen`, final centroids `fin`, and the final assignment `km_asg`.
    The recursive working table holds one iteration's centroid rows
    (cl, dim, c); each step assigns every vector to its nearest
    centroid (BIGINT squared distance, (dist, cl) tiebreak) and emits
    the next centroids as integer-division means. All arithmetic is
    BIGINT, so the trajectory is bit-identical to the Spark loop
    regardless of partitioning or summation order. `k` defaults to
    the clustering family's KM_K; the IVF quantizer passes its own
    nlist (tuned per corpus by a numpy replay) without perturbing
    q_kmeans_exact/q_dedup_semantic.

    ``fit_where`` (a bare SQL predicate over vec_id/embedding)
    restricts the vectors the centroids are FIT on — seeding and
    every recursion step assign only that subset — while `km_asg`
    still assigns ALL vectors against the final centroids. Empty
    (the default) fits on everything, the pre-r10 behavior;
    q_dedup_embed_incremental fits on the history split only.

    ``suffix`` renames every CTE (v0{s}, cen{s}, fin{s}, km_asg{s},
    …) so one WITH RECURSIVE clause can hold TWO independent fits —
    q_embed_index_refresh replays the frozen fit and the refreshed
    fit side by side. Empty (the default) keeps the historical
    names."""
    from data_wrangler_spark.operators.dedup import _sql_md5_long

    key = _sql_md5_long("CAST(vec_id AS VARCHAR)")
    fit_pred = f"WHERE {fit_where}" if fit_where else ""
    s = suffix
    return f"""
    v0{s} AS (
      SELECT vec_id, embedding,
             unnest(generate_series(1, len(embedding))) AS dim
      FROM embeddings),
    v{s} AS (
      SELECT vec_id, CAST(dim AS INT) AS dim,
             CAST(floor(CAST(embedding[dim] AS DOUBLE) * {KM_Q}) AS BIGINT)
               AS x
      FROM v0{s}),
    vfit{s} AS (SELECT * FROM v{s} {fit_pred}),
    seed{s} AS (
      SELECT vec_id,
             CAST(row_number() OVER (ORDER BY {key}, vec_id) AS INT) AS cl
      FROM embeddings {fit_pred}),
    cen{s}(it, cl, dim, c) AS (
      SELECT 0, s.cl, v.dim, v.x
      FROM seed{s} s JOIN vfit{s} v ON v.vec_id = s.vec_id
      WHERE s.cl <= {k}
      UNION ALL
      SELECT MAX(asg.it) + 1, asg.cl, v2.dim,
             CAST(SUM(v2.x) // CAST(count(*) AS BIGINT) AS BIGINT)
      FROM (
        SELECT d.vec_id, d.it, d.cl,
               ROW_NUMBER() OVER (PARTITION BY d.vec_id
                                  ORDER BY d.dist, d.cl) AS rn
        FROM (
          SELECT va.vec_id, cn.it, cn.cl,
                 SUM((va.x - cn.c) * (va.x - cn.c)) AS dist
          FROM cen{s} cn JOIN vfit{s} va ON va.dim = cn.dim
          WHERE cn.it < {KM_ITER}
          GROUP BY va.vec_id, cn.it, cn.cl) d) asg
      JOIN vfit{s} v2 ON v2.vec_id = asg.vec_id
      WHERE asg.rn = 1
      GROUP BY asg.cl, v2.dim),
    fin{s} AS (SELECT cl, dim, c FROM cen{s} WHERE it = {KM_ITER}),
    km_dist{s} AS (
      SELECT va.vec_id, f.cl,
             CAST(SUM((va.x - f.c) * (va.x - f.c)) AS BIGINT) AS dist
      FROM v{s} va JOIN fin{s} f ON f.dim = va.dim
      GROUP BY va.vec_id, f.cl),
    km_asg{s} AS (
      SELECT vec_id, cl, dist
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                         ORDER BY dist, cl) AS rn
            FROM km_dist{s})
      WHERE rn = 1)
    """


def _kmeans_oracle() -> str:
    return f"""
    WITH RECURSIVE
    {kmeans_cte_sql()}
    SELECT vec_id, CAST(cl AS INT) AS cluster, dist FROM km_asg
    """


@register("q_kmeans_exact", oracle=_kmeans_oracle(), tags=("llm", "embedding", "iterative", "eager"))
def q_kmeans_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means whose every iteration is bit-reproducible:
    vector components quantized to integer micro-units (×2^20 — a
    power of two, so the float→int map is exact), squared distances
    and centroid means in pure BIGINT (integer-division mean), init =
    the K vectors ranked first by the cross-engine md5 key, ties on
    (dist, cluster). No float ever enters, so any engine, partition
    count, or summation order lands on the identical fixed point —
    the reproducibility a restartable 100 TB clustering job needs
    (pyspark.ml KMeans is seed-stable only within one Spark version
    and shuffles-dependent; this is stable, period — the DuckDB
    recursive-CTE oracle replays the whole trajectory).

    Scale: per iteration one broadcast (K×dim centroid table, tiny)
    and ONE shuffle (the (cl, dim) centroid re-aggregation) —
    assignment itself is shuffle-free: one Arrow mapInPandas pass
    against the broadcast centroid matrix (kmeans_assign_np).
    Empty clusters drop identically in both engines (none occur on
    this data). Cited shape: IVF coarse quantizer (q_sim_search_ivf)
    — since r12 that query trains with THIS trainer, giving the
    whole IVF pipeline an exact oracle."""
    v_arr, cl_ids, cmat = kmeans_fit_mat(spark, sf_dir)
    # final assignment through the same codegen expression as the fit
    # loop — no Arrow barrier on the output pass either
    m = assign_min_struct_expr(cl_ids, cmat)
    return v_arr.select("vec_id", m.alias("m")).select(
        "vec_id",
        F.col("m.cl").cast("int").alias("cluster"),
        F.col("m.dist").alias("dist"),
    )


def kmeans_assign(v: DataFrame, centroids: DataFrame) -> DataFrame:
    """Nearest-centroid assignment in BIGINT: (vec_id, cl, dist) with
    (dist, cl) tiebreak — the Spark mirror of the oracle's km_asg.
    The argmin is a lexicographic struct-MIN aggregate, not a
    per-vector rank window: it partial-aggregates map-side (K rows
    per vector collapse before the shuffle) and needs no sort."""
    d = (
        v.join(F.broadcast(centroids), "dim")
        .groupBy("vec_id", "cl")
        .agg(
            F.sum((F.col("x") - F.col("c")) * (F.col("x") - F.col("c"))).alias("dist")
        )
    )
    return (
        d.groupBy("vec_id")
        .agg(F.min(F.struct("dist", "cl")).alias("m"))
        .select("vec_id", F.col("m.cl").alias("cl"), F.col("m.dist").alias("dist"))
    )


def kmeans_assign_np(v_arr: DataFrame, cen: DataFrame) -> DataFrame:
    """DataFrame-centroid wrapper over kmeans_assign_mat (collects the
    K×dim table — tiny by design — then delegates)."""
    rows = cen.orderBy("cl", "dim").collect()
    ids = sorted({r["cl"] for r in rows})
    dims = max(r["dim"] for r in rows) + 1
    cmat = np.zeros((len(ids), dims), dtype=np.int64)
    pos = {cl: i for i, cl in enumerate(ids)}
    for r in rows:
        cmat[pos[r["cl"]], r["dim"]] = r["c"]
    return kmeans_assign_mat(v_arr, np.array(ids, dtype=np.int64), cmat)


def kmeans_assign_mat(
    v_arr: DataFrame, cl_ids: np.ndarray, cmat: np.ndarray
) -> DataFrame:
    """Numpy nearest-centroid assignment: the K×dim centroid matrix (a
    tiny, driver-resident operand by design) ships in the TASK CLOSURE
    — ~K·dim ints, far below any broadcast-worthy size, and skipping
    the broadcast round-trip saves a driver barrier per call. One
    Arrow mapInPandas pass: int64 distances, argmin's first-minimum =
    lowest cl, identical to the oracle's (dist, cl) rank. Returns
    (vec_id, cl, dist) with no shuffle."""
    ids_arr, C = cl_ids.copy(), cmat.copy()

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.vstack(pdf["xs"].to_numpy()).astype(np.int64)
            dist = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            a = dist.argmin(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "cl": ids_arr[a],
                    "dist": dist[np.arange(len(a)), a],
                }
            )

    return v_arr.mapInPandas(assign, "vec_id long, cl long, dist long")


def quantize_expr(col) -> "F.Column":
    """Column form of THE quantizer: embedding components → integer
    micro-units (floor(x · KM_Q), int64). quantize_xs and the
    streaming gate's per-row assignment both build on this single
    definition — a drifted copy would assign new vectors with a
    different quantizer than the stored centroids were fit with
    (r10 review)."""
    return F.transform(col, lambda xf: F.floor(xf.cast("double") * KM_Q).cast("long"))


def quantize_xs(e: DataFrame) -> DataFrame:
    """(vec_id, xs): embedding components as integer micro-units —
    quantize_expr as a DataFrame projection (see its docstring for
    the no-drift rule)."""
    return e.select("vec_id", quantize_expr(F.col("embedding")).alias("xs"))


def assign_min_struct_expr(cl_ids, cmat, xs_col: str = "xs"):
    """Nearest-centroid assignment as ONE codegen expression over a
    quantized-components column, returning the winning
    struct(dist, cl) — THE single definition the streaming gate, the
    fit loop's partial-aggregation pass, and the batch assignment all
    derive from (a drifted copy would assign with a different
    quantile of the same arithmetic). The K×dim centroid matrix is
    rendered into the expression as a SQL-PARSED literal (one parse,
    ~KB — per-element F.lit construction would pay thousands of py4j
    calls, the q_contamination_bloom lesson); distance is BIGINT
    zip_with/aggregate, and the (dist, cl) tiebreak is array_min's
    lexicographic struct order — identical to the oracle's rank and
    to np.argmin's first-minimum over the cl-ascending matrix."""
    cens = ", ".join(
        "named_struct('cl', {cl}L, 'cs', array({cs}))".format(
            cl=int(cl),
            cs=", ".join(f"{int(c)}L" for c in cmat[i]),
        )
        for i, cl in enumerate(cl_ids)
    )
    return F.expr(
        f"array_min(transform(array({cens}), c -> named_struct("
        f"'dist', aggregate(zip_with({xs_col}, c.cs, "
        f"(x, cc) -> (x - cc) * (x - cc)), 0L, (a, v) -> a + v), "
        f"'cl', c.cl)))"
    )


def assign_cell_expr(cl_ids, cmat, xs_col: str = "xs"):
    """Cluster id of the nearest centroid — assign_min_struct_expr's
    `.cl` (see its docstring; pinned equal to kmeans_assign_mat by
    pytest), for plans that only need the cell (the streaming gate's
    per-row projection)."""
    return assign_min_struct_expr(cl_ids, cmat, xs_col).getField("cl")


def _trunc_div(s: int, n: int) -> int:
    """SQL `div` (truncate toward zero) on Python ints — Python's //
    floors toward -inf, which differs on negative sums."""
    return s // n if s >= 0 else -((-s) // n)


def kmeans_fit_mat(spark: SparkSession, sf_dir: str, k: int = KM_K, fit_filter=None):
    """Run the integer k-means with an Arrow/numpy iteration and a
    DRIVER-RESIDENT centroid table — the same design as
    pyspark.ml.KMeans (centroids are O(K·dim) and live on the
    driver; only per-partition partial sums move). Per iteration:
    one mapInPandas pass emits K·dim partial sums + counts per
    partition (int64 — exact in any accumulation order), collected
    directly (≤ n_partitions × K rows) and tree-merged in numpy on
    the driver — ONE job, zero shuffles, zero sort, per iteration.
    No n-row shuffle at all. argmin ties break to the
    lowest cl (np.argmin returns the first minimum over the
    cl-ascending centroid matrix) — identical to the oracle's
    (dist, cl) rank. Returns (v_arr [vec_id, xs], cl id vector,
    K×dim centroid matrix).

    ``fit_filter`` (a Column predicate) restricts the vectors the
    centroids are FIT on — seeding and the iteration loop use only
    that subset — while the returned v_arr still covers the whole
    table, so callers can assign everything (or any split) against
    the fitted centroids. None (the default) fits on everything.

    Small fit sets (≤ KM_FIT_LOCAL_MAX vectors) take a LOCAL fast
    path: one limit-probe job pulls the whole fit set (a bounded
    operand, like a broadcast side) and the seed + all KM_ITER
    update rounds run in driver numpy — identical int64 arithmetic,
    identical fixpoint (pinned by pytest against the distributed
    loop), but 1 Spark job instead of 1 + KM_ITER. Above the bound
    the distributed partials loop engages unchanged — that is the
    100 TB path; the bound only removes the per-job Python-worker
    latency that dominated wall at benchmark scale (VERDICT r15 #3:
    the iteration constant was ~5 × job-floor, not compute)."""
    v_arr = quantize_xs(load_table(spark, sf_dir, "embeddings")).cache()
    v_fit = v_arr if fit_filter is None else v_arr.filter(fit_filter)
    # route on a COUNT first (guide §5 — the driver does no data
    # work): the old probe collected up to KM_FIT_LOCAL_MAX+1 full
    # dim-64 int64 rows (~130 MB) to the driver even when the verdict
    # was "too big — go distributed", a pure waste on exactly the
    # 100 TB path. The limit+count job moves one long and caches only
    # the partitions the limit reaches; the local route's fetch then
    # reads (and fills) the rest of the cache. The fetch goes through
    # Arrow: packed int64 columns, not one Row object per vector.
    n_probe = v_fit.limit(KM_FIT_LOCAL_MAX + 1).count()
    if n_probe <= KM_FIT_LOCAL_MAX:
        cl_ids, cmat = _km_fit_local(v_fit.select("vec_id", "xs").toArrow(), k)
        return v_arr, cl_ids, cmat
    cl_ids, cmat = _km_seed(v_fit, k)
    # the iteration loop is shuffle-free (per-task partials collect
    # into a driver-side int64 merge), so no shuffle sizing needed
    cl_ids, cmat = _km_loop(spark, v_fit, cl_ids, cmat)
    return v_arr, cl_ids, cmat


def _km_seed(v_fit: DataFrame, k: int):
    """Distributed seed: top-K fit vectors by the md5 seed key via
    orderBy+limit (per-task heaps — no global sort), cl = 1..K in
    key order."""
    from data_wrangler_spark.operators.dedup import _md5_long

    seed_key = _md5_long(F.col("vec_id").cast("string"))
    seed_rows = (
        v_fit.select("vec_id", "xs", seed_key.alias("sk"))
        .orderBy("sk", "vec_id")
        .limit(k)
        .collect()
    )
    cl_ids = np.arange(1, k + 1, dtype=np.int64)
    cmat = np.vstack([np.asarray(r["xs"], dtype=np.int64) for r in seed_rows])
    return cl_ids, cmat


def _km_fit_local(tbl, k: int):
    """Driver-numpy mirror of (_km_seed + _km_loop) over the fit set
    fetched as an Arrow table (vec_id, xs): the SAME md5 seed key
    (hashlib replay of _md5_long), the same first-minimum argmin over
    the cl-ascending centroid matrix, the same exact-int64 sums and
    truncating-division means, the same empty-cluster drops — so both
    paths land on the identical fixpoint (tests/test_embeddings_ext.py
    pins matrix equality).
    Distances use the |x|²+|c|²−2x·c expansion (int64-exact: every
    term < 2^47 at the 2^20 quantizer and dim 64) so memory is
    O(n·K), not O(n·K·dim)."""
    import hashlib

    ids = tbl.column("vec_id").to_numpy().astype(np.int64)
    xs = tbl.column("xs").combine_chunks()
    X = xs.flatten().to_numpy().astype(np.int64).reshape(len(ids), -1)
    sk = np.array(
        [
            int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16)
            for i in ids
        ],
        dtype=np.int64,
    )
    order = np.lexsort((ids, sk))  # primary sk, secondary vec_id
    cmat = X[order[:k]].copy()
    cl_ids = np.arange(1, k + 1, dtype=np.int64)
    x2 = (X * X).sum(axis=1)
    for _ in range(KM_ITER):
        c2 = (cmat * cmat).sum(axis=1)
        dist = x2[:, None] + c2[None, :] - 2 * (X @ cmat.T)
        a = dist.argmin(axis=1)  # first min = lowest cl
        cnts = np.bincount(a, minlength=len(cl_ids))
        sums = np.zeros((len(cl_ids), X.shape[1]), dtype=np.int64)
        np.add.at(sums, a, X)
        keep = cnts > 0
        cl_ids = cl_ids[keep]
        cnts, sums = cnts[keep], sums[keep]
        q = sums // cnts[:, None]
        neg = sums < 0
        q[neg] = -((-sums[neg]) // np.repeat(
            cnts[:, None], sums.shape[1], axis=1
        )[neg])
        cmat = q
    return cl_ids, cmat


def kmeans_fit_arr(spark: SparkSession, sf_dir: str, k: int = KM_K):
    """DataFrame-centroid wrapper over kmeans_fit_mat for consumers
    that join centroids relationally (kmeans_assign, the IVF cell
    probe)."""
    v_arr, cl_ids, cmat = kmeans_fit_mat(spark, sf_dir, k=k)

    cen_rows = [
        (int(cl), int(dim_i), int(cmat[i, dim_i]))
        for i, cl in enumerate(cl_ids)
        for dim_i in range(cmat.shape[1])
    ]
    cen = spark.createDataFrame(cen_rows, "cl int, dim int, c long")
    return v_arr, cen


def _km_loop(spark, v_arr, cl_ids, cmat):
    for _ in range(KM_ITER):
        # the K×dim grid ships in the task closure — no broadcast
        # round-trip per iteration (it is ~K·dim ints)
        ids, C = cl_ids.copy(), cmat.copy()

        def partials(batches):
            k, d = C.shape
            for pdf in batches:
                if not len(pdf):
                    continue
                X = np.vstack(pdf["xs"].to_numpy()).astype(np.int64)
                dist = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
                a = dist.argmin(axis=1)  # first min = lowest cl
                sums = np.zeros((k, d), dtype=np.int64)
                np.add.at(sums, a, X)
                cnts = np.bincount(a, minlength=k)
                keep = cnts > 0
                yield pd.DataFrame(
                    {
                        "cl": ids[keep],
                        "n": cnts[keep],
                        "s": [row.tolist() for row in sums[keep]],
                    }
                )

        # Tree-combine, not shuffle: each task already emitted ≤K rows
        # of (cl, count, dim-sum array), so the whole iteration's
        # partials are ≤ n_partitions × K rows — a bounded grid, not
        # data. Collect them directly and merge in int64 numpy on the
        # driver (order-independent exact arithmetic). This replaces
        # the former posexplode → groupBy(cl, dim) → collect, which
        # paid a full shuffle stage + a second job per iteration for
        # an aggregate whose input was already tiny.
        parts = v_arr.mapInPandas(
            partials, "cl long, n long, s array<long>"
        ).collect()
        acc: dict[int, tuple[int, np.ndarray]] = {}
        for r in parts:
            n0, s0 = acc.get(r["cl"], (0, None))
            s = np.asarray(r["s"], dtype=np.int64)
            acc[r["cl"]] = (n0 + r["n"], s if s0 is None else s0 + s)
        cl_ids = np.array(sorted(acc), dtype=np.int64)
        cmat = np.vstack(
            [
                np.array(
                    [_trunc_div(int(s_arr[d]), n) for d in range(len(s_arr))],
                    dtype=np.int64,
                )
                for n, s_arr in (acc[cl] for cl in cl_ids)
            ]
        )
    return cl_ids, cmat


def kmeans_fit(spark: SparkSession, sf_dir: str, k: int = KM_K):
    """Exploded-contract wrapper over kmeans_fit_arr: returns
    (quantized components `v` [vec_id, dim, x], final centroids
    [cl, dim, c]) for consumers that join per-dimension
    (q_sim_search_ivf's query-cell probe)."""
    v_arr, cen = kmeans_fit_arr(spark, sf_dir, k=k)
    v = v_arr.select("vec_id", F.posexplode("xs").alias("dim", "x"))
    return v, cen


PCA_Q = 1 << 20   # component quantizer (shared with kmeans)
PCA_ITERS = 8     # power-iteration rounds
PCA_VSCALE = 256  # per-round rescale target (max |v| after rescale)


def _pca_oracle() -> str:
    def fdiv(a: str, b: str) -> str:
        # floor division exact in BOTH engines: the numerator is made
        # exactly divisible (subtract the positive modulus), so the
        # engine's own `//` rounding mode (DuckDB truncates, Python
        # floors) never sees a remainder
        return f"(({a}) - (((({a}) % ({b})) + ({b})) % ({b}))) // ({b})"

    it = """
    w{k} AS MATERIALIZED (
      SELECT gp.i, SUM(gp.g * v{p}.v) AS w
      FROM gp JOIN v{p} ON v{p}.i = gp.j GROUP BY gp.i),
    s{k} AS MATERIALIZED (SELECT MAX(ABS(w)) AS s FROM w{k}),
    v{k} AS MATERIALIZED (SELECT i, {vexpr} AS v FROM w{k}, s{k})"""
    iters = ",".join(
        it.format(k=k, p=k - 1, vexpr=fdiv(f"w * {PCA_VSCALE}", "s"))
        for k in range(1, PCA_ITERS + 1)
    )
    return f"""
    WITH vq AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * {PCA_Q}) AS BIGINT)) AS xs
      FROM embeddings),
    comp AS (
      SELECT vec_id,
             unnest(generate_series(1, len(xs))) AS d,
             unnest(xs) AS x
      FROM vq),
    g AS (
      SELECT a.d AS i, b.d AS j, SUM(a.x * b.x) AS gg
      FROM comp a JOIN comp b USING (vec_id) GROUP BY 1, 2),
    gp AS MATERIALIZED (SELECT i, j, {fdiv('gg', str(PCA_Q))} AS g FROM g),
    v0 AS MATERIALIZED (SELECT i, 1 AS v FROM (SELECT DISTINCT i FROM gp)),
    {iters}
    SELECT CAST(i AS INT) AS dim, CAST(v AS BIGINT) AS v_scaled
    FROM v{PCA_ITERS}
    """


@register("q_embed_pca", oracle=_pca_oracle(), tags=("llm", "embeddings", "eager"))
def q_embed_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant principal direction of the embedding corpus by POWER
    ITERATION on the integer Gram matrix — PCA's top component, the
    embedding-quality diagnostic (anisotropy: how much of the corpus
    variance one direction soaks up), computed so every step is
    engine- and order-independent: components quantize to 2^20
    micro-units, the Gram matrix G[i,j] = Σ x_i·x_j accumulates in
    int64, and each of the PCA_ITERS=8 iterations is w = G'v followed by an
    integer rescale to max|v| = 256. Floor division runs through an
    exactly-divisible numerator (subtract the positive modulus) so
    DuckDB's truncating `//` and Python's flooring `//` cannot
    disagree — the oracle replays the whole trajectory bit-for-bit.

    Scale split: the only corpus-sized work is the Gram accumulation
    — one mapInPandas pass emitting each task's 64×64 int64 partial
    (X_partᵀX_part, a single numpy GEMM), merged by one 4096-row
    groupBy — the same partial-collect discipline as kmeans_fit_mat.
    The iteration itself is O(dim²) on a 64×64 matrix: driver
    arithmetic on exact Python ints, like the K×dim centroid merge.
    At 100 TB nothing changes: partials stay 64×64 per task
    regardless of corpus size, and dim=4096 would still be a
    16M-entry driver matrix.

    Note on convergence: the random fixture's spectrum is nearly flat
    (Marchenko–Pastur; λ2/λ1 ≈ 0.93–0.98), the adversarial case for
    power iteration — 8 rounds provably lift the Rayleigh quotient to
    ≥ 0.85·λ1 (pinned in tests/test_embeddings_ext.py) without
    claiming full eigenvector convergence; real embedding corpora are
    strongly anisotropic (λ1 dominant) and converge in 2-3 rounds."""
    e = load_table(spark, sf_dir, "embeddings")
    v_arr = e.select(
        "vec_id",
        F.transform(
            "embedding", lambda xf: F.floor(xf.cast("double") * PCA_Q).cast("long")
        ).alias("xs"),
    )
    dim = len(e.select("embedding").first()["embedding"])

    # numpy int64 wraps SILENTLY on overflow (unlike the oracle's
    # HUGEINT sum and Spark's ANSI sum) — bound the worst-case Gram
    # entry n·(Q·max|x|)² up front and refuse rather than wrap. At
    # Q=2^20 and unit-normish components this allows ~4M vectors;
    # beyond that, lower PCA_Q (the trajectory rescales with it).
    b = e.agg(
        F.count("*").alias("n"),
        F.max(
            F.array_max(F.transform("embedding", lambda x: F.abs(x)))
        ).alias("mx"),
    ).collect()[0]
    worst = int(b.n) * int(float(b.mx) * PCA_Q + 1) ** 2
    if worst >= 2**62:
        raise ValueError(
            f"q_embed_pca: worst-case Gram entry {worst:.3g} risks int64 "
            "overflow — reduce PCA_Q for this corpus size"
        )

    def gram(batches):
        acc = np.zeros((dim, dim), dtype=np.int64)
        seen = False
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["xs"].to_numpy()).astype(np.int64)
            acc += X.T @ X
            seen = True
        if seen:
            ii, jj = np.meshgrid(np.arange(dim), np.arange(dim), indexing="ij")
            yield pd.DataFrame(
                {"i": ii.ravel() + 1, "j": jj.ravel() + 1, "g": acc.ravel()}
            )

    g_rows = (
        v_arr.mapInPandas(gram, "i int, j int, g long")
        .groupBy("i", "j")
        .agg(F.sum("g").alias("g"))
        .collect()
    )
    G = {}
    for r in g_rows:
        G[(r.i, r.j)] = int(r.g) // PCA_Q  # Python floor == oracle fdiv

    v = {i: 1 for i in range(1, dim + 1)}
    for _ in range(PCA_ITERS):
        w = {
            i: sum(G[(i, j)] * v[j] for j in range(1, dim + 1))
            for i in range(1, dim + 1)
        }
        s = max(abs(x) for x in w.values())
        v = {i: (w[i] * PCA_VSCALE) // s for i in w}

    return spark.createDataFrame(
        [(i, v[i]) for i in sorted(v)], "dim int, v_scaled long"
    )


@register(
    "q_label_similarity",
    oracle=f"""
    WITH comp AS (
      SELECT label,
             unnest(generate_series(1, len(embedding))) AS dim,
             unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS x
      FROM embeddings),
    cent AS (
      SELECT label, dim,
             CAST(SUM(CAST(x AS DECIMAL(30,12))) AS DOUBLE) / COUNT(*) AS c
      FROM comp GROUP BY label, dim),
    pairs AS (
      SELECT a.label AS label_a, b.label AS label_b,
             CAST(SUM(CAST(a.c * b.c AS DECIMAL(38,18))) AS DOUBLE) AS dot,
             sqrt(CAST(SUM(CAST(a.c * a.c AS DECIMAL(38,18))) AS DOUBLE)) AS na,
             sqrt(CAST(SUM(CAST(b.c * b.c AS DECIMAL(38,18))) AS DOUBLE)) AS nb
      FROM cent a JOIN cent b ON a.dim = b.dim AND a.label < b.label
      GROUP BY 1, 2)
    SELECT label_a, label_b,
           CAST(floor(dot / (na * nb) * 1000000 + 0.5) AS BIGINT)
             AS cos_micro
    FROM pairs
    """,
    tags=("llm", "embeddings"),
)
def q_label_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-centroid similarity matrix — the class-confusability /
    cluster-quality diagnostic: per-label centroids via EXACT decimal
    per-dimension means (order-independent, q_embed_centroid's
    discipline), then pairwise cosine between centroids. The only
    float ops are the final dot/sqrt/divide over |labels|×dim exact
    doubles — identical inputs both engines, and sqrt/division are
    IEEE-correctly-rounded, so even the float path is deterministic;
    the result rounds half-up to integer micro for the hash gate.

    Scale: ONE corpus aggregation (label×dim cells — map-side
    combined), then everything runs on a |labels|×dim frame: the
    pairwise stage is |labels|²·dim on a handful of rows, never the
    corpus. This is the cheap first look before q_dedup_semantic's
    per-vector pass: labels whose centroids sit at cosine ≈ 1 are
    where semantic dup mass concentrates."""
    e = load_table(spark, sf_dir, "embeddings")
    comp = e.select("label", F.posexplode(to_double_array("embedding")).alias("dim0", "x"))
    cent = comp.groupBy("label", F.col("dim0").alias("dim")).agg(
        (
            F.sum(F.col("x").cast("decimal(30,12)")).cast("double") / F.count("*")
        ).alias("c")
    )
    a = cent.select(F.col("label").alias("label_a"), "dim", F.col("c").alias("ca"))
    b = cent.select(F.col("label").alias("label_b"), "dim", F.col("c").alias("cb"))
    pairs = (
        a.join(b, "dim")
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(
            # products are deterministic doubles; the SUMS go through
            # exact decimal so accumulation order cannot move a ULP
            F.sum((F.col("ca") * F.col("cb")).cast("decimal(38,18)"))
            .cast("double")
            .alias("dot"),
            F.sqrt(
                F.sum((F.col("ca") * F.col("ca")).cast("decimal(38,18)"))
                .cast("double")
            ).alias("na"),
            F.sqrt(
                F.sum((F.col("cb") * F.col("cb")).cast("decimal(38,18)"))
                .cast("double")
            ).alias("nb"),
        )
    )
    return pairs.select(
        "label_a",
        "label_b",
        F.floor(F.col("dot") / (F.col("na") * F.col("nb")) * 1000000 + 0.5)
        .cast("long")
        .alias("cos_micro"),
    )


KCENTER_K = 8  # q_select_kcenter: number of representatives


def _sql_sqdist(a: str, b: str) -> str:
    """Squared L2 distance as a strict LEFT FOLD over index order —
    the same addition sequence Spark's F.aggregate performs, so the
    doubles are bit-identical across engines (float32 inputs cast to
    double exactly; each (x−y)² is one deterministic IEEE rounding;
    DuckDB's list_reduce seeds with the first element, Spark with
    0.0 — and 0.0 + t₁ ≡ t₁, so the fold sequences coincide)."""
    return (
        f"list_reduce(list_transform({a}, (x, i) -> "
        f"(CAST(x AS DOUBLE) - CAST({b}[i] AS DOUBLE)) * "
        f"(CAST(x AS DOUBLE) - CAST({b}[i] AS DOUBLE))), (p, q) -> p + q)"
    )


def _kcenter_oracle(k: int) -> str:
    """Unrolled greedy farthest-point selection as a STRICTLY LINEAR
    CTE chain: K is a small model constant, so the K−1 iterations
    unroll — but each level must be referenced EXACTLY ONCE, because
    DuckDB 1.0 re-evaluates a plain CTE at every reference (the
    q_dedup_cluster oracle_sweep pathology: a c{i}/d{i} pair chain
    whose levels are referenced twice doubles evaluations per level,
    ~2^K scans of the base table). Each level therefore computes its
    own argmax pick via FIRST_VALUE window broadcasts (no second CTE
    reference) and threads the accumulated picks list through as a
    column; the final SELECT unnests the list from one row of the
    last level. (A recursive CTE can\'t express this at all — the
    recursive term cannot aggregate.)"""
    dist_pe = _sql_sqdist("e", "pe")
    lvl0 = """
    WITH d0 AS (
      SELECT vec_id, e,
             """ + _sql_sqdist("e", "pe") + """ AS md,
             [{'rank': 0, 'vec_id': pv, 'md': CAST(NULL AS DOUBLE)}] AS picks
      FROM (
        SELECT vec_id, e,
               first_value(vec_id) OVER w AS pv,
               first_value(e)      OVER w AS pe
        FROM (SELECT vec_id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
              FROM embeddings)
        WINDOW w AS (ORDER BY vec_id)))"""
    parts = [lvl0]
    for i in range(1, k):
        parts.append(f""",
    d{i} AS (
      SELECT vec_id, e,
             least(md, {dist_pe}) AS md,
             list_append(picks,
                         {{'rank': {i}, 'vec_id': pv, 'md': pm}}) AS picks
      FROM (
        SELECT vec_id, e, md, picks,
               first_value(vec_id) OVER w AS pv,
               first_value(e)      OVER w AS pe,
               first_value(md)     OVER w AS pm
        FROM d{i - 1}
        WINDOW w AS (ORDER BY md DESC, vec_id)))""")
    return (
        "".join(parts)
        + f"""
    SELECT CAST(p.rank AS INT) AS rank, p.vec_id, p.md AS sq_dist
    FROM (SELECT unnest(picks, recursive := true)
          FROM (SELECT picks FROM d{k - 1} LIMIT 1)) p
    ORDER BY rank"""
    )


@register(
    "q_select_kcenter",
    oracle=_kcenter_oracle(KCENTER_K),
    tags=("llm", "embeddings", "sampling", "eager"),
)
def q_select_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center (farthest-point) data selection — the coreset
    strategy of Sener & Savarese (ICLR'18) used to pick maximally
    DIVERSE training examples: start from the lowest vec_id, then
    K−1 times take the vector farthest (squared L2) from everything
    already selected, ties to the smaller vec_id. Complements the
    similarity family's nearest-neighbor ops with the opposite
    primitive (farthest-first traversal ≡ a 2-approximation of the
    k-center cover).

    Exactness: distances are strict index-order left folds on exact
    float32→double values (see _sql_sqdist), so every comparison the
    greedy argmax makes is over bit-identical doubles in both
    engines; the oracle replays all K iterations as unrolled CTEs.

    Scale: each round is (broadcast 1 new center) → per-row
    least(md, dist) → TakeOrderedAndProject(1) — a K-round scan with
    O(1) driver traffic per round and running min-distance state of
    ONE double per row carried in the DataFrame (the classic
    distributed farthest-point sweep; no pairwise matrix ever
    exists). K is a model constant, so the plan is K chained narrow
    stages; localCheckpoint truncates lineage each round."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", to_double_array("embedding").alias("e")
    )

    def sqdist_to(center: list) -> F.Column:
        c = F.array(*[F.lit(float(v)) for v in center])
        return F.aggregate(
            F.zip_with(F.col("e"), c, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    seed = e.orderBy("vec_id").limit(1).collect()
    if not seed:  # empty corpus: no picks (mirrors q_dedup_embed's guard)
        return spark.createDataFrame(
            [], "rank int, vec_id long, sq_dist double"
        )
    first = seed[0]
    picks = [(0, first.vec_id, None)]
    cur = e.withColumn("md", sqdist_to(first.e)).localCheckpoint()
    for rank in range(1, KCENTER_K):
        far = cur.orderBy(F.desc("md"), F.asc("vec_id")).limit(1).collect()[0]
        picks.append((rank, far.vec_id, far.md))
        if rank < KCENTER_K - 1:
            cur = cur.withColumn(
                "md", F.least(F.col("md"), sqdist_to(far.e))
            ).localCheckpoint()
    return spark.createDataFrame(
        picks, "rank int, vec_id long, sq_dist double"
    ).orderBy("rank")
