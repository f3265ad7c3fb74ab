"""Similarity search over embeddings (north star).

- `q_sim_search`: exact brute-force top-k cosine — the correctness
  baseline. One scan, per-row O(d) fold, TakeOrderedAndProject keeps
  a k-heap per task (no global sort).
- `q_sim_search_lsh`: random-hyperplane LSH bucketed search — the
  scale path: probe only vectors whose signature shares a band with
  the query, then exact-rank the candidates. Rows-only check (the
  candidate set is recall<1 by construction); pytest pins recall
  against brute force.
- `q_sim_join`: all-pairs cosine ≥ τ with pk-ordered pairs — exact
  (oracle-checked); at scale the same query runs after an LSH
  blocking stage (see q_dedup_embed for the blocked plan shape).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from data_wrangler_spark.catalog import load_table, read_parquet
from data_wrangler_spark.functions.vectors import (
    cosine,
    embedding_dim,
    make_dot_udf,
    norm,
    round6,
    sql_cosine,
    sql_dot,
    sql_norm,
    sql_round6,
    to_double_array,
)
from data_wrangler_spark.registry import register
from data_wrangler_spark.scratch import ROOT, materialize, scratch_tag

N_PLANES = 16  # LSH hyperplanes → 16-bit signature, 4 bands × 4 bits
LSH_BAND_BITS = 4
# Multi-probe (Lv et al. 2007): the query also probes every bucket at
# Hamming distance ≤ LSH_PROBE_R within each band. r=1 measured with a
# numpy replay of the index: recall@10 0.2 → 0.9-1.0 on every fixture
# (sf0.001…f50) — these near-uniform synthetic embeddings are the
# distance-concentration worst case, so single-probe recall collapses
# while Hamming-1 probing recovers it (at a measured candidate-set
# cost the harness reports honestly).
LSH_PROBE_R = 1
LSH_PROBE_MASKS = [0] + [1 << r for r in range(LSH_BAND_BITS)]


def _query_vec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The query point as a 1-row frame (qid, qe): the smallest vec_id
    (exists at every SF) and its embedding. Callers exclude the query
    from its own neighbours by joining on ``qid``, so each plan holds
    one min aggregate."""
    e = load_table(spark, sf_dir, "embeddings")
    qid = e.agg(F.min("vec_id").alias("qid"))
    return e.join(F.broadcast(qid), F.col("vec_id") == F.col("qid")).select(
        "qid", to_double_array("embedding").alias("qe")
    )


@register(
    "q_sim_search",
    oracle=f"""
    WITH n AS (SELECT vec_id, label,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
               FROM embeddings),
    q AS (SELECT e AS qe FROM n
          WHERE vec_id = (SELECT min(vec_id) FROM embeddings))
    SELECT vec_id, label, {sql_cosine('e', 'qe')} AS cos_sim
    FROM n, q
    WHERE vec_id <> (SELECT min(vec_id) FROM embeddings)
    ORDER BY cos_sim DESC, vec_id
    LIMIT 10
    """,
    tags=("llm", "similarity", "eager"),
)
def q_sim_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-10 cosine neighbors of the first vector. Broadcast
    the single query row; cosine is a codegen'd fold; top-k plans as
    TakeOrderedAndProject (per-task heaps, no global sort)."""
    raw = load_table(spark, sf_dir, "embeddings")
    dim = embedding_dim(raw)
    e = raw.select("vec_id", "label", to_double_array("embedding").alias("e"))
    q = _query_vec(spark, sf_dir)
    return (
        e.join(F.broadcast(q), F.col("vec_id") != F.col("qid"))
        .withColumn("cos_sim", cosine(F.col("e"), F.col("qe"), dim))
        .select("vec_id", "label", "cos_sim")
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(10)
    )


def _plane_weights(dim: int) -> list[list[int]]:
    """Deterministic ±1 hyperplane weights from md5 of "(i,p)" —
    computed in Python and embedded as LITERALS in both the Spark
    plan and the DuckDB oracle, so the two engines run byte-identical
    arithmetic and the sign decisions cannot diverge."""
    import hashlib

    return [
        [
            1 if hashlib.md5(f"{i},{p}".encode()).digest()[0] & 1 else -1
            for i in range(dim)
        ]
        for p in range(N_PLANES)
    ]


def _lsh_oracle(dim: int = 64) -> str:
    ws = _plane_weights(dim)

    def proj(vec: str, p: int) -> str:
        terms = " + ".join(
            f"CAST({vec}[{i + 1}] AS DOUBLE) * ({ws[p][i]})" for i in range(dim)
        )
        return f"(CASE WHEN ({terms}) > 0 THEN 1 ELSE 0 END)"

    def band(vec: str, b: int) -> str:
        return " + ".join(f"{proj(vec, b * 4 + r)} * {1 << r}" for r in range(4))

    bands_n = "\n      UNION ALL\n      ".join(
        f"SELECT vec_id, label, e, {b} AS band, {band('e', b)} AS bucket FROM n"
        for b in range(4)
    )
    bands_q = "\n      UNION ALL\n      ".join(
        f"SELECT qe, {b} AS band, {band('qe', b)} AS bucket FROM q" for b in range(4)
    )
    masks = "[" + ",".join(str(m) for m in LSH_PROBE_MASKS) + "]"
    return f"""
    WITH n AS (SELECT vec_id, label,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
               FROM embeddings),
    q AS (SELECT e AS qe FROM n
          WHERE vec_id = (SELECT min(vec_id) FROM embeddings)),
    bn AS ({bands_n}),
    bq0 AS ({bands_q}),
    bq AS (SELECT qe, band, xor(bucket, mm.m) AS bucket
           FROM bq0 CROSS JOIN unnest({masks}) AS mm(m)),
    cand AS (
      SELECT DISTINCT bn.vec_id, bn.label, bn.e
      FROM bn JOIN bq ON bn.band = bq.band AND bn.bucket = bq.bucket
      WHERE bn.vec_id <> (SELECT min(vec_id) FROM embeddings))
    SELECT vec_id, label, {sql_round6(sql_cosine('e', 'qe'))} AS cos_sim
    FROM cand, q
    ORDER BY cos_sim DESC, vec_id
    LIMIT 10
    """


@register("q_sim_search_lsh", oracle=_lsh_oracle(), tags=("llm", "similarity", "eager"))
def q_sim_search_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k: random-hyperplane (sign-LSH) signatures from
    literal ±1 weights (md5-seeded; identical constants embedded in
    the DuckDB oracle, so even this approximate index is
    oracle-checked); candidates = vectors sharing ≥1 of 4 signature
    bands with the MULTI-PROBED query (the query probes its own
    bucket plus every Hamming-≤LSH_PROBE_R bucket per band — Lv et
    al. 2007; measured by q_ann_recall and a numpy replay: recall@10
    0.2 → 0.9-1.0 on every fixture); cosine re-rank of candidates
    only (1e-6 rounding). At 100 TB the bucket join replaces the full
    scan — probed partitions ∝ bucket selectivity, and multi-probe
    multiplies QUERY rows (tiny side), never corpus rows."""
    raw = load_table(spark, sf_dir, "embeddings")
    dim = embedding_dim(raw)
    e = raw.select("vec_id", "label", to_double_array("embedding").alias("e"))
    q = _query_vec(spark, sf_dir)
    ws = _plane_weights(dim)

    # One Arrow-vectorized UDF instead of a 16×64-term unrolled
    # literal tree (the unrolled form made Catalyst analyze+codegen a
    # ~2000-node expression: 15+ s of pure compile time at ANY data
    # size). np.cumsum is sequential, so the per-plane projection sums
    # in exactly the oracle's left-associative term order — bit-equal
    # signs, including the >0 threshold.
    from pyspark.sql.pandas.functions import pandas_udf

    w_mat = np.array(ws, dtype=np.float64)  # N_PLANES × dim

    @pandas_udf("array<int>")
    def signature(col: pd.Series) -> pd.Series:
        mat = np.vstack(col.to_numpy())  # n × dim
        prods = mat[:, None, :] * w_mat[None, :, :]  # n × planes × dim
        projs = np.cumsum(prods, axis=2)[:, :, -1]
        bits = (projs > 0).astype(np.int64)  # n × planes
        bands = np.stack(
            [
                sum(bits[:, b * 4 + r] << r for r in range(4))
                for b in range(N_PLANES // 4)
            ],
            axis=1,
        )
        return pd.Series([row.astype(np.int32).tolist() for row in bands])

    sig = e.withColumn("sig", signature(F.col("e")))
    qsig = (
        q.withColumn("sig", signature(F.col("qe")))
        .select("qid", "qe", F.posexplode("sig").alias("band", "bucket0"))
        .withColumn(
            "m", F.explode(F.array(*[F.lit(m) for m in LSH_PROBE_MASKS]))
        )
        .select(
            "qid",
            "qe",
            "band",
            F.col("bucket0").bitwiseXOR(F.col("m")).alias("bucket"),
        )
    )
    cand = (
        sig.select("vec_id", "label", "e", F.posexplode("sig").alias("band", "bucket"))
        .join(F.broadcast(qsig), ["band", "bucket"])
        .filter(F.col("vec_id") != F.col("qid"))
        .dropDuplicates(["vec_id"])
    )
    return (
        cand.withColumn("cos_sim", round6(cosine(F.col("e"), F.col("qe"), dim)))
        .select("vec_id", "label", "cos_sim")
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(10)
    )


IVFX_NLIST = 16  # IVF quantizer cells (own k; the clustering family's KM_K=8 untouched)
IVFX_NPROBE = 8  # cells probed (measured recall: 4/16 cells -> 0.5; 8/16 -> 0.9-1.0)
IVFX_TOPK = 10


def _ivf_exact_oracle() -> str:
    from data_wrangler_spark.operators.embeddings_ext import kmeans_cte_sql

    return f"""
    WITH RECURSIVE
    {kmeans_cte_sql(k=IVFX_NLIST)},
    qv AS (
      SELECT dim, x FROM v
      WHERE vec_id = (SELECT min(vec_id) FROM embeddings)),
    cell_d AS (
      SELECT f.cl, SUM((qv.x - f.c) * (qv.x - f.c)) AS dist
      FROM fin f JOIN qv ON qv.dim = f.dim
      GROUP BY f.cl),
    probe AS (
      SELECT cl FROM (SELECT cl, ROW_NUMBER() OVER (ORDER BY dist, cl) AS rn
                      FROM cell_d)
      WHERE rn <= {IVFX_NPROBE}),
    n AS (SELECT vec_id, label,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
          FROM embeddings),
    q AS (SELECT e AS qe FROM n
          WHERE vec_id = (SELECT min(vec_id) FROM embeddings)),
    cand AS (
      SELECT n.vec_id, n.label, CAST(a.cl AS INT) AS cell, n.e
      FROM n
      JOIN km_asg a ON a.vec_id = n.vec_id
      JOIN probe p ON p.cl = a.cl
      WHERE n.vec_id <> (SELECT min(vec_id) FROM embeddings))
    SELECT vec_id, label, cell, {sql_cosine('e', 'qe')} AS cos_sim
    FROM cand, q
    ORDER BY cos_sim DESC, vec_id
    LIMIT {IVFX_TOPK}
    """


@register("q_sim_search_ivf", oracle=_ivf_exact_oracle(), tags=("llm", "similarity", "eager"))
def q_sim_search_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) approximate search with a FULLY exact
    oracle: the coarse quantizer is the integer-arithmetic k-means
    (q_kmeans_exact's trainer), so cell assignments, the query's
    nprobe-nearest cells (BIGINT distances, (dist, cl) tiebreak),
    the candidate set, and the final cosine ranking are all
    bit-reproducible — DuckDB replays the entire index build AND the
    probe. Through r11 this query trained with pyspark.ml KMeans and
    could only be rows-only checked (ml's float trajectory is
    seed-stable only within one Spark version — the very
    reproducibility gap q_kmeans_exact exists to close); VERDICT
    r11 #5 asked for the conversion.

    Scale: broadcast centroid table, candidate cells ~nprobe/nlist
    of the corpus, exact cosine only on candidates,
    TakeOrderedAndProject top-k; with cell as a partition column the
    probe becomes partition pruning (q_sim_search_ivf_indexed is
    that persisted layout)."""
    from data_wrangler_spark.operators.embeddings_ext import (
        kmeans_assign,
        kmeans_fit,
        quantize_expr,
    )

    v, cen = kmeans_fit(spark, sf_dir, k=IVFX_NLIST)
    asg = kmeans_assign(v, cen).select("vec_id", "cl")

    raw = load_table(spark, sf_dir, "embeddings")
    dim = embedding_dim(raw)
    # the probe cells carry the query row on to the re-rank
    qv = _query_vec(spark, sf_dir).select(
        "qid", "qe", F.posexplode(quantize_expr(F.col("qe"))).alias("dim", "x")
    )
    cell_d = (
        cen.join(F.broadcast(qv), "dim")
        .groupBy("cl", "qid", "qe")
        .agg(F.sum((F.col("x") - F.col("c")) * (F.col("x") - F.col("c"))).alias("dist"))
    )
    probe = (
        cell_d.withColumn(
            "rn", F.row_number().over(Window.orderBy("dist", "cl"))
        )
        .filter(F.col("rn") <= IVFX_NPROBE)
        .select("cl", "qid", "qe")
    )

    e = raw.select("vec_id", "label", to_double_array("embedding").alias("e"))
    cand = (
        e.join(asg, "vec_id")
        .join(F.broadcast(probe), "cl")
        .filter(F.col("vec_id") != F.col("qid"))
    )
    return (
        cand.withColumn("cos_sim", cosine(F.col("e"), F.col("qe"), dim))
        .select("vec_id", "label", F.col("cl").cast("int").alias("cell"), "cos_sim")
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(IVFX_TOPK)
    )


@register(
    "q_sim_join",
    oracle=f"""
    WITH n AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
               FROM embeddings),
    scored AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             {sql_round6(f"{sql_dot('a.e', 'b.e')} / ({sql_norm('a.e')} * {sql_norm('b.e')})")} AS cos_sim
      FROM n a JOIN n b ON a.vec_id < b.vec_id)
    SELECT vec_a, vec_b, cos_sim FROM scored WHERE cos_sim >= 0.35
    """,
    tags=("llm", "similarity", "eager"),
)
def q_sim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs similarity join (cosine ≥ 0.35, reported at
    1e-6 precision) as a DISTRIBUTED BLOCK-PAIR GEMM. Vectors hash
    into B blocks; every unordered vector pair {x, y} belongs to
    exactly one unordered block pair {blk(x), blk(y)}, so scoring the
    B(B+1)/2 block pairs covers each pair exactly once — exactness
    without enumerating n² rows through a shuffle and WITHOUT ever
    materializing the matrix on the driver (the previous plan's
    toPandas() broadcast was a driver OOM at corpus scale). Each
    block-pair task runs one numpy GEMM over two Arrow-shipped block
    matrices (see make_dot_udf for why per-pair codegen loses).

    Scale: replication factor is (B+1)/2 block matrices per node of
    work — B grows as n·d·8/executor-mem so each task's two blocks
    fit comfortably; work distributes across B²/2 independent tasks.
    The n² dot-product count is intrinsic to the exact semantics; the
    LSH/IVF variants are the sub-quadratic path."""
    import numpy as np
    import pandas as pd

    raw = load_table(spark, sf_dir, "embeddings")
    n_vecs = raw.count()
    # each block ~n/B vectors: small enough that two block matrices
    # fit in a task, big enough that the GEMM amortizes — and B²/2
    # tasks must cover the cluster (B=10 → 55 tasks already does)
    n_blocks = max(4, (n_vecs + 511) // 512)
    e = raw.select(
        "vec_id",
        to_double_array("embedding").alias("e"),
        F.pmod("vec_id", F.lit(n_blocks)).alias("blk"),
    )
    # block layout: aligned id array + row-major flattened matrix —
    # flat primitive arrays move through Arrow far faster than
    # list-of-struct-of-list
    blocks = (
        e.groupBy("blk")
        .agg(F.collect_list(F.struct("vec_id", "e")).alias("rows"))
        .select(
            "blk",
            F.transform("rows", lambda r: r["vec_id"]).alias("ids"),
            F.flatten(F.transform("rows", lambda r: r["e"])).alias("flat"),
        )
    )
    bp = blocks.select(
        F.col("blk").alias("ba"), F.col("ids").alias("ids_a"), F.col("flat").alias("flat_a")
    ).join(
        blocks.select(
            F.col("blk").alias("bb"), F.col("ids").alias("ids_b"), F.col("flat").alias("flat_b")
        ),
        F.col("ba") <= F.col("bb"),
    )

    def gemm(batches):
        for pdf in batches:
            out_a, out_b, out_c = [], [], []
            for ids_a, flat_a, ids_b, flat_b, same in zip(
                pdf["ids_a"], pdf["flat_a"], pdf["ids_b"], pdf["flat_b"],
                pdf["ba"] == pdf["bb"],
            ):
                ids_a = np.asarray(ids_a, dtype=np.int64)
                ids_b = np.asarray(ids_b, dtype=np.int64)
                ma = np.asarray(flat_a, dtype=np.float64).reshape(len(ids_a), -1)
                mb = np.asarray(flat_b, dtype=np.float64).reshape(len(ids_b), -1)
                na = np.sqrt(np.einsum("ij,ij->i", ma, ma))
                nb = np.sqrt(np.einsum("ij,ij->i", mb, mb))
                cos = (ma @ mb.T) / np.outer(na, nb)
                cos = np.floor(cos * 1_000_000 + 0.5) / 1_000_000
                # vec_a < vec_b exactly once: same-block upper triangle
                # by id; cross-block all cells, ordered by id
                lo = np.minimum.outer(ids_a, ids_b)
                hi = np.maximum.outer(ids_a, ids_b)
                keep = (cos >= 0.35) & (lo < hi)
                if same:
                    keep &= np.greater.outer(ids_b, ids_a)
                ii, jj = np.nonzero(keep)
                out_a.append(lo[ii, jj])
                out_b.append(hi[ii, jj])
                out_c.append(cos[ii, jj])
            if out_a:
                yield pd.DataFrame(
                    {
                        "vec_a": np.concatenate(out_a),
                        "vec_b": np.concatenate(out_b),
                        "cos_sim": np.concatenate(out_c),
                    }
                )

    return bp.mapInPandas(gemm, "vec_a long, vec_b long, cos_sim double")


_IVF_SCRATCH = f"{ROOT}/ivf"


@register(
    "q_sim_search_ivf_indexed",
    oracle=_ivf_exact_oracle(),
    tags=("llm", "similarity", "eager"),
)
def q_sim_search_ivf_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with a PERSISTED index — the build/serve split the
    in-memory variant (q_sim_search_ivf) only gestures at, now with
    the SAME exact oracle: the answer must equal the in-memory form's
    (DuckDB replays fit → assign → probe → rerank from raw
    embeddings), which proves every persisted hop lossless. Build
    (once per sf): fit the integer-exact k-means quantizer, write
    vectors partitioned BY CELL plus the exploded (cl, dim, c)
    centroid table. Serve: read the centroid table (tiny), rank
    cells with the same BIGINT (dist, cl) arithmetic as the
    in-memory probe, collect the nprobe winning cell ids (a bounded
    ≤nlist scalar fetch — partition pruning needs literal filters),
    and scan ONLY those cells: the `cell` filter is a PARTITION
    filter, so the "index probe" is literally directory pruning (the
    plan's PartitionFilters proves non-probed cells are never read —
    pinned in tests). This is exactly how an IVF index deploys on a
    data lake at 100 TB: the quantizer trains once (on a sample),
    assignments are the partition layout, and every query's IO is
    nprobe/nlist of the corpus. Through r11 this used pyspark.ml
    KMeans and was rows-only; the quantizer swap (VERDICT r11 #5)
    makes the whole persisted pipeline hash-checked."""
    from data_wrangler_spark.operators.embeddings_ext import (
        kmeans_assign_np,
        kmeans_fit_arr,
        quantize_expr,
    )

    def build(base: str) -> None:
        raw = load_table(spark, sf_dir, "embeddings")
        v_arr, cen = kmeans_fit_arr(spark, sf_dir, k=IVFX_NLIST)
        asg = kmeans_assign_np(v_arr, cen).select(
            "vec_id", F.col("cl").cast("int").alias("cell")
        )
        e = raw.select(
            "vec_id", "label", to_double_array("embedding").alias("e")
        )
        e.join(asg, "vec_id").repartition("cell").write.partitionBy(
            "cell"
        ).parquet(f"{base}/vectors")
        cen.coalesce(1).write.parquet(f"{base}/centroids")

    base = materialize(f"{_IVF_SCRATCH}/{scratch_tag(sf_dir)}", build)
    vec_path, cen_path = f"{base}/vectors", f"{base}/centroids"

    raw = load_table(spark, sf_dir, "embeddings")
    q = _query_vec(spark, sf_dir)
    dim = embedding_dim(raw)

    # rank cells against the PERSISTED centroids with the exact
    # integer arithmetic of the in-memory probe, then fetch the
    # nprobe winners (≤ nlist rows) as partition-filter literals
    qv = q.select(F.posexplode(quantize_expr(F.col("qe"))).alias("dim", "x"))
    cen = read_parquet(spark, cen_path)
    probe_rows = (
        cen.join(F.broadcast(qv), "dim")
        .groupBy("cl")
        .agg(F.sum((F.col("x") - F.col("c")) * (F.col("x") - F.col("c"))).alias("dist"))
        .withColumn("rn", F.row_number().over(Window.orderBy("dist", "cl")))
        .filter(F.col("rn") <= IVFX_NPROBE)
        .select("cl")
        .collect()
    )
    probe_cells = [int(r.cl) for r in probe_rows]

    vecs = read_parquet(spark, vec_path)
    return (
        vecs.filter(F.col("cell").isin(probe_cells))
        .join(F.broadcast(q), F.col("vec_id") != F.col("qid"))
        .withColumn("cos_sim", cosine(F.col("e"), F.col("qe"), dim))
        .select("vec_id", "label", F.col("cell").cast("int").alias("cell"), "cos_sim")
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(IVFX_TOPK)
    )


# ── Product quantization (PQ) ANN ──────────────────────────────────
PQ_M = 8        # subspaces
PQ_SUB = 8      # dims per subspace (PQ_M × PQ_SUB = 64 = embedding dim)
PQ_NCENT = 32   # centroids per subspace codebook (16 -> 0.6-0.9 recall; 32 -> 0.9-1.0)
PQ_TOPK = 10
PQ_SHORTLIST = 256  # ADC candidates for exact re-rank (64 -> 0.6; 256 -> 0.9-1.0, still 0.3% of f50)
PQ_Q = 1 << 20  # micro-unit quantizer (same as kmeans: floor(x·2^20))


def _pq_sql() -> str:
    """DuckDB replay of the ENTIRE PQ pipeline: quantize → codebook →
    encode (argmin per subspace, (dist, c) tiebreak) → ADC score →
    top-k. Integer BIGINT arithmetic throughout."""
    idx8 = "[1,2,3,4,5,6,7,8]"
    ms = "[" + ",".join(str(m) for m in range(PQ_M)) + "]"
    sk = "(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT)"

    def subdist(a: str, b: str) -> str:
        return (
            f"list_sum(list_transform({idx8}, i -> "
            f"({a}[mm.m*{PQ_SUB}+i]-{b}[mm.m*{PQ_SUB}+i])"
            f"*({a}[mm.m*{PQ_SUB}+i]-{b}[mm.m*{PQ_SUB}+i])))"
        )

    return f"""
    WITH v AS (
      SELECT vec_id, label,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * {PQ_Q}) AS BIGINT)) AS xs
      FROM embeddings),
    qsel AS (SELECT min(vec_id) AS qid FROM embeddings),
    anchors AS (
      SELECT xs, CAST(ROW_NUMBER() OVER (ORDER BY sk, vec_id) - 1 AS INT) AS c
      FROM (SELECT vec_id, xs, {sk} AS sk FROM v)
      QUALIFY ROW_NUMBER() OVER (ORDER BY sk, vec_id) <= {PQ_NCENT}),
    dists AS (
      SELECT v.vec_id, v.label, mm.m, a.c, {subdist('v.xs', 'a.xs')} AS d
      FROM v CROSS JOIN unnest({ms}) AS mm(m) CROSS JOIN anchors a),
    codes AS (
      SELECT vec_id, label, m, c
      FROM dists
      QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d, c) = 1),
    qv AS (SELECT xs FROM v, qsel WHERE vec_id = qid),
    adct AS (
      SELECT mm.m, a.c, {subdist('qv.xs', 'a.xs')} AS t
      FROM qv CROSS JOIN unnest({ms}) AS mm(m) CROSS JOIN anchors a),
    scored AS (
      SELECT c.vec_id, c.label,
             list_transform(list(c.c ORDER BY c.m), x -> CAST(x AS INT)) AS code,
             CAST(SUM(t.t) AS BIGINT) AS adc_dist
      FROM codes c
      JOIN adct t ON t.m = c.m AND t.c = c.c, qsel
      WHERE c.vec_id <> qsel.qid
      GROUP BY c.vec_id, c.label),
    shortlist AS (
      SELECT * FROM scored ORDER BY adc_dist, vec_id LIMIT {PQ_SHORTLIST})
    SELECT s.vec_id, s.label, s.code, s.adc_dist,
           CAST(list_sum(list_transform(generate_series(1, {PQ_M * PQ_SUB}),
             i -> (v.xs[i]-qv.xs[i])*(v.xs[i]-qv.xs[i]))) AS BIGINT) AS l2_dist
    FROM shortlist s
    JOIN v ON v.vec_id = s.vec_id, qv
    ORDER BY l2_dist, s.vec_id
    LIMIT {PQ_TOPK}
    """


@register("q_sim_search_pq", oracle=_pq_sql(), tags=("llm", "similarity", "eager"))
def q_sim_search_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jégou et al. 2011) — the third ANN
    family next to LSH (q_sim_search_lsh) and IVF (q_sim_search_ivf*),
    and the one that compresses the CORPUS: each 64-dim vector becomes
    8 one-byte codes (one per 8-dim subspace, nearest of 16 codebook
    centroids), and query-time scoring is Asymmetric Distance
    Computation — one 8×16 lookup table of exact query↔centroid
    subspace distances, so scoring a vector is 8 table lookups + adds,
    never a 64-dim float op. Everything runs in 2^20 micro-unit BIGINT
    arithmetic (the kmeans_exact quantizer), the codebook is the 16
    md5-seed-smallest corpus vectors (same seeding discipline as
    kmeans), and argmin ties break to the lowest code. The ADC pass
    keeps a PQ_SHORTLIST-deep candidate heap which an EXACT integer-L2
    re-rank reduces to the final top-10 (the IVF-PQ production shape:
    the compressed scan prunes, the exact distance decides) — and the
    DuckDB oracle replays codebook, encoding, ADC table, shortlist,
    and re-rank bit-for-bit: the whole approximation is under the
    exact gate.

    Scale: encoding is one mapInPandas scan (the 16×64 codebook and
    the ADC table ride the task closure — no join, no shuffle);
    stored codes are 8 bytes/vector (128× smaller than float32·64),
    which is the point: at 100 TB the code table fits where the raw
    embeddings cannot, ADC scans it at memory bandwidth, and the
    ranking is a TakeOrderedAndProject k-heap. In production the
    encode runs once at ingest and persists; IVF cell partitioning
    composes on top (IVF-PQ) to prune the scan itself."""
    from data_wrangler_spark.operators.dedup import _md5_long

    e = load_table(spark, sf_dir, "embeddings")
    v_arr = e.select(
        "vec_id",
        "label",
        F.transform(
            "embedding", lambda xf: F.floor(xf.cast("double") * PQ_Q).cast("long")
        ).alias("xs"),
    )
    qid = e.agg(F.min("vec_id")).collect()[0][0]

    # codebook: bounded driver scalars — 16 anchor rows + 1 query row
    sk = _md5_long(F.col("vec_id").cast("string"))
    seed_rows = (
        v_arr.select("vec_id", "xs", sk.alias("sk"))
        .orderBy("sk", "vec_id")
        .limit(PQ_NCENT)
        .collect()
    )
    cb = np.vstack([np.asarray(r["xs"], dtype=np.int64) for r in seed_rows])
    qxs = np.asarray(
        v_arr.filter(F.col("vec_id") == qid).select("xs").collect()[0]["xs"],
        dtype=np.int64,
    )

    # ADC lookup table T[m, c]: exact query↔centroid subspace distances
    adct = np.empty((PQ_M, PQ_NCENT), dtype=np.int64)
    for m in range(PQ_M):
        s = slice(m * PQ_SUB, (m + 1) * PQ_SUB)
        diff = qxs[s][None, :] - cb[:, s]
        adct[m] = (diff * diff).sum(axis=1)

    def encode(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["xs"].to_numpy()).astype(np.int64)
            codes = np.empty((len(pdf), PQ_M), dtype=np.int32)
            adc = np.zeros(len(pdf), dtype=np.int64)
            for m in range(PQ_M):
                s = slice(m * PQ_SUB, (m + 1) * PQ_SUB)
                d = ((X[:, None, s] - cb[None, :, s]) ** 2).sum(axis=2)
                cm = d.argmin(axis=1)  # first minimum → lowest c
                codes[:, m] = cm
                adc += adct[m, cm]
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "label": pdf["label"],
                    "code": list(codes),
                    "adc_dist": adc,
                }
            )

    scored = v_arr.filter(F.col("vec_id") != qid).mapInPandas(
        encode, "vec_id long, label int, code array<int>, adc_dist long"
    )
    shortlist = scored.orderBy("adc_dist", "vec_id").limit(PQ_SHORTLIST)

    # exact re-rank of the ADC shortlist (the IVF-PQ production shape:
    # compressed scan prunes, exact distance decides) — the query's
    # quantized components ride as a 64-literal array, the shortlist
    # side broadcasts (≤ PQ_SHORTLIST rows)
    qlit = F.array(*[F.lit(int(x)) for x in qxs])
    l2 = F.aggregate(
        F.zip_with(F.col("xs"), qlit, lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    rer = F.broadcast(shortlist).join(v_arr.select("vec_id", "xs"), "vec_id")
    return (
        rer.select("vec_id", "label", "code", "adc_dist", l2.alias("l2_dist"))
        .orderBy("l2_dist", "vec_id")
        .limit(PQ_TOPK)
    )


# ── ANN recall harness (VERDICT r7 #4) ────────────────────────────
# Measured recall@10 for the three ANN families vs the exact top-k,
# as an exact-oracle query: each family's SQL-expressible pipeline
# (LSH planes, integer-kmeans IVF, PQ codebooks) is replayed by
# DuckDB, so the confusion arithmetic — and therefore the recall
# numbers themselves — hash-match end to end. The companion of
# q_dedup_eval (dedup.py), which grades the MinHash candidate
# generator the same way.

_ANN_FAMILIES = (
    # (family, source query, config string)
    ("ivf", "q_sim_search_ivf",
     f"nlist={IVFX_NLIST},nprobe={IVFX_NPROBE},quantizer=int-kmeans"),
    ("lsh", "q_sim_search_lsh",
     f"planes={N_PLANES},bands=4x4,probe_r={LSH_PROBE_R}"),
    ("pq", "q_sim_search_pq",
     f"m={PQ_M},ncent={PQ_NCENT},shortlist={PQ_SHORTLIST}"),
)


def _ann_recall_oracle() -> str:
    from data_wrangler_spark.registry import REGISTRY

    exact = REGISTRY["q_sim_search"].oracle
    rows = []
    ctes = [f"exact10 AS ({exact})"]
    for fam, qname, config in _ANN_FAMILIES:
        ctes.append(f"{fam}10 AS ({REGISTRY[qname].oracle})")
        rows.append(f"""
      SELECT '{fam}' AS family, '{config}' AS config,
             CAST(10 AS INT) AS top_k,
             CAST((SELECT COUNT(*) FROM {fam}10 f
                   JOIN exact10 e USING (vec_id)) AS BIGINT) AS hits""")
    unioned = "\n      UNION ALL".join(rows)
    cte_block = ",\n    ".join(ctes)
    return f"""
    WITH {cte_block}
    SELECT family, config, top_k, hits,
           hits * 100000 AS recall_micro
    FROM ({unioned})
    ORDER BY family
    """


@register("q_ann_recall", oracle=_ann_recall_oracle(), tags=("llm", "similarity", "eval", "eager"))
def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN-config EVALUATION: recall@10 of each approximate family
    (IVF via the integer-kmeans quantizer, hyperplane LSH, PQ with
    exact re-rank) against the exact cosine top-10 (q_sim_search) —
    one row per (family, config) with hit count and recall in
    integer micro-units. This is the harness that answers "is
    nprobe=4 / 4x4 bands / an m=8 codebook right for THIS corpus"
    with a measured number instead of the textbook formula — and
    because every family here is the SQL-expressible variant, the
    recall numbers are hash-checked against DuckDB replaying the
    ENTIRE index build + probe + confusion arithmetic.

    Scale: each family's plan is its production query (broadcast
    query row, bucketed/cell-pruned candidates, TakeOrderedAndProject
    top-k); the recall join is 10×10 rows. Evaluation is an offline
    per-corpus job — exactly like q_dedup_eval — run before
    committing index parameters."""
    from data_wrangler_spark.registry import REGISTRY
    from data_wrangler_spark.functions.distributed import pin

    # the exact top-10 feeds all three recall joins; unpinned, the
    # whole exact-search subtree re-executes once per family (no
    # ReusedExchange fires across the union branches — checked in
    # the round-17 physical plan). 10 rows cached (guide §5).
    exact = pin(
        REGISTRY["q_sim_search"].run(spark, sf_dir).select("vec_id").persist()
    )
    # materialize the 10-row cache eagerly: left lazy, the three
    # union branches race to build the same InMemoryRelation inside
    # one job and duplicate the exact search anyway
    exact.count()
    parts = []
    for fam, qname, config in _ANN_FAMILIES:
        res = REGISTRY[qname].run(spark, sf_dir).select("vec_id")
        parts.append(
            res.join(exact, "vec_id")
            .agg(F.count("*").alias("hits"))
            .select(
                F.lit(fam).alias("family"),
                F.lit(config).alias("config"),
                F.lit(10).cast("int").alias("top_k"),
                F.col("hits"),
                (F.col("hits") * F.lit(100000)).alias("recall_micro"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("family")


# threshold-calibration grid (micro-cosine); starts at q_sim_join's
# own 0.35 floor so the curve reuses its exact scored-pair set
CURVE_TAUS = tuple(range(350_000, 650_001, 50_000))


def _threshold_curve_oracle() -> str:
    from data_wrangler_spark.registry import REGISTRY

    base = REGISTRY["q_sim_join"].oracle
    taus = ", ".join(str(t) for t in CURVE_TAUS)
    return f"""
    WITH scored AS ({base}),
    q AS (SELECT vec_a, vec_b,
                 CAST(floor(cos_sim * 1000000 + 0.5) AS BIGINT) AS cm
          FROM scored),
    taus AS (SELECT unnest([{taus}]) AS tau_micro)
    SELECT t.tau_micro,
           CAST(COUNT(q.cm) AS BIGINT) AS n_pairs
    FROM taus t LEFT JOIN q ON q.cm >= t.tau_micro
    GROUP BY t.tau_micro
    """


@register(
    "q_dedup_threshold_curve",
    oracle=_threshold_curve_oracle(),
    tags=("llm", "dedup", "similarity", "eager"),
)
def q_dedup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-count vs cosine-threshold CURVE — the calibration
    step that precedes every embedding-dedup deployment: before
    committing a τ (q_dedup_semantic's SEM_TAU, q_dedup_embed's
    gate), count how many pairs each candidate threshold would
    declare duplicates. One exact scored-pair pass (q_sim_join's
    block-pair GEMM — pairs ≥ the grid floor), quantized to integer
    micro-cosine, then counted against the broadcast τ grid.
    Output: (tau_micro, n_pairs), the knee of which is where τ
    belongs. Choosing τ from this curve instead of folklore is the
    difference between dropping near-dups and dropping the corpus.

    Scale: the scoring pass is q_sim_join's distributed GEMM
    (n²·d work spread over block-pair tasks — intrinsic to an exact
    curve; the LSH/IVF candidates can feed the same counting tail
    when approximate suffices). The curve itself is |grid| rows: the
    join against the grid is a broadcast, the count a partial agg.
    The scored pairs are computed ONCE for all grid points."""
    from data_wrangler_spark.registry import REGISTRY

    scored = REGISTRY["q_sim_join"].run(spark, sf_dir).select(
        F.floor(F.col("cos_sim") * 1000000 + F.lit(0.5))
        .cast("long")
        .alias("cm")
    )
    taus = spark.createDataFrame(
        [(t,) for t in CURVE_TAUS], "tau_micro bigint"
    )
    return (
        F.broadcast(taus)
        .join(scored, F.col("cm") >= F.col("tau_micro"), "left")
        .groupBy("tau_micro")
        .agg(F.count("cm").cast("long").alias("n_pairs"))
    )


# ── index freshness: serving through an append ─────────────────────
FRESH_NQ = 5    # day-2 query batch size (lowest vec_ids — deterministic)
FRESH_K = 10    # top-k served per query


def _ann_fresh_oracle() -> str:
    from data_wrangler_spark.operators.dedup import INC2_DAY1, INC2_DAY2
    from data_wrangler_spark.operators.embeddings_ext import kmeans_cte_sql

    cos = sql_round6(
        f"{sql_dot('q.e', 'h.e')} / ({sql_norm('q.e')} * {sql_norm('h.e')})"
    )
    return f"""
    WITH RECURSIVE
    {kmeans_cte_sql(fit_where=f"vec_id % 10 NOT IN ({INC2_DAY1}, {INC2_DAY2})")},
    n AS (SELECT vec_id, label,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
          FROM embeddings),
    asg AS (SELECT n.vec_id, n.label, n.e, CAST(a.cl AS INT) AS cell
            FROM n JOIN km_asg a ON a.vec_id = n.vec_id),
    hist AS (SELECT * FROM asg
             WHERE vec_id % 10 NOT IN ({INC2_DAY1}, {INC2_DAY2})),
    d1 AS (SELECT * FROM asg WHERE vec_id % 10 = {INC2_DAY1}),
    d2 AS (SELECT * FROM asg WHERE vec_id % 10 = {INC2_DAY2}),
    q AS (SELECT vec_id AS qid, e FROM d2 ORDER BY vec_id LIMIT {FRESH_NQ}),
    idx1 AS (SELECT * FROM hist UNION ALL SELECT * FROM d1),
    ranked AS (
      SELECT 'pre' AS phase, q.qid, h.vec_id, h.label, {cos} AS cos_sim,
             ROW_NUMBER() OVER (PARTITION BY q.qid
                                ORDER BY {cos} DESC, h.vec_id) AS rn
      FROM hist h, q
      UNION ALL
      SELECT 'post', q.qid, h.vec_id, h.label, {cos},
             ROW_NUMBER() OVER (PARTITION BY q.qid
                                ORDER BY {cos} DESC, h.vec_id)
      FROM idx1 h, q)
    SELECT phase, qid, CAST(rn AS INT) AS rnk, vec_id, label, cos_sim
    FROM ranked WHERE rn <= {FRESH_K}
    """


@register(
    "q_ann_index_fresh",
    oracle=_ann_fresh_oracle(),
    tags=("llm", "similarity", "embedding"),
)
def q_ann_index_fresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index FRESHNESS through an append — the serving-side story of
    the two-day vector index (q_dedup_embed_2day proves the append
    catches duplicates; this proves queries SEE the appended vectors):
    a batch of day-2 query vectors (today's traffic, the FRESH_NQ
    lowest ids — deterministic) is served top-FRESH_K twice against
    the SAME persisted index root, once as of before day-1's append
    (day0 only) and once after (day0 ∪ day1). Day-1 vectors entering
    the post-append top-k are results a stale index CANNOT return —
    pinned non-vacuous by pytest and present at every sweep factor
    (4-5 of the 50 post rows at sf0.001/0.01/0.1). Output:
    (phase ∈ {{pre, post}}, qid, rnk, vec_id, label, cos_sim). The
    oracle replays the frozen fit, both serves, and the (cos_sim
    DESC, vec_id) rank from raw embeddings.

    Scale: the query batch is a bounded broadcast (FRESH_NQ rows);
    each serve is one pass over the index roots' files with the Arrow
    pair dot (make_dot_udf — the JIT-ceiling rule) and a per-query
    TakeOrdered-style window over qid partitions. Appends being new
    FILES under the same root is exactly why freshness is free here:
    the next query lists the directory and sees day-1 — no index
    rebuild, no invalidation protocol, the same property the parquet
    data lake gives every other operator."""
    from data_wrangler_spark.operators.dedup import (
        INC2_DAY2,
        _ensure_embed_2day_built,
    )

    base = _ensure_embed_2day_built(spark, sf_dir)
    mem_schema = "vec_id bigint, e array<double>, cell int"
    day0 = spark.read.schema(mem_schema).parquet(f"{base}/day0")
    day1 = spark.read.schema(mem_schema).parquet(f"{base}/day1")

    raw = load_table(spark, sf_dir, "embeddings")
    labels = raw.select("vec_id", "label")
    q = (
        raw.filter(F.col("vec_id") % 10 == INC2_DAY2)
        .orderBy("vec_id")
        .limit(FRESH_NQ)
        .select(
            F.col("vec_id").alias("qid"),
            to_double_array("embedding").alias("qe"),
        )
        .withColumn("qn", norm(F.col("qe")))
    )
    dot_udf = make_dot_udf()

    def serve(members: DataFrame, phase: str) -> DataFrame:
        pairs = (
            members.withColumn("nrm", norm(F.col("e")))
            .crossJoin(F.broadcast(q))
            .withColumn(
                "cos_sim",
                round6(
                    dot_udf(F.col("e"), F.col("qe"))
                    / (F.col("nrm") * F.col("qn"))
                ),
            )
        )
        w = Window.partitionBy("qid").orderBy(
            F.desc("cos_sim"), F.asc("vec_id")
        )
        return (
            pairs.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= FRESH_K)
            .join(labels, "vec_id")
            .select(
                F.lit(phase).alias("phase"),
                "qid",
                "rnk",
                "vec_id",
                "label",
                "cos_sim",
            )
        )

    return serve(day0, "pre").unionByName(
        serve(day0.unionByName(day1), "post")
    )
