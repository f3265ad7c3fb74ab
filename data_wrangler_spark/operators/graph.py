"""Iterative graph analytics over relational-derived edges.

The reference has no graph surface; this is north-star coverage of
the `iterative algorithms` class the driver contract calls out as
legitimately non-SQL-expressible (alongside custom stateful
streaming). `q_dedup_cluster` (pipeline_ops.py) already covers
label-propagation connected components WITH an exact recursive-CTE
oracle. PageRank comes in two forms: the standard float power
iteration (rows-only — pinned against an independent numpy power
iteration at 1e-9 in tests/test_graph.py) and q_pagerank_exact in
integer micro-units, whose fixed point is engine- and
partitioning-independent and therefore carries a full DuckDB
recursive-CTE oracle.

Scale design: edges are the persistent operand — cache them
partitioned by src (one shuffle, reused every iteration). Each
iteration is contribution-explode → sum-by-dst: a single exchange on
dst per iteration, partial-aggregated map-side. Ranks are
O(|nodes|) and join edges co-partitioned. Dangling mass is folded
back via a 1-row broadcast, not a collect. Iteration count is fixed
(power iteration converges geometrically at damping=0.85); at 100 TB
checkpoint the rank lineage every few iterations to cut the DAG.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from data_wrangler_spark.catalog import load_table
from data_wrangler_spark.functions.distributed import pin, release_local_checkpoint
from data_wrangler_spark.registry import register

PR_ITERATIONS = 8
PR_DAMPING = 0.85


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed customer→supplier edges: c bought a part supplied by
    s (distinct pairs). Node ids are disjoint: customers as-is,
    suppliers offset into their own id space."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    sup_offset = 10_000_000
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + sup_offset).alias("dst"),
        )
        .distinct()
    )


@register("q_pagerank", tags=("ext", "graph", "iterative", "eager"))  # rows-only: iterative, non-SQL
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank by fixed-count power iteration on the bipartite
    customer→supplier purchase graph. Per iteration: distribute each
    node's rank over its out-edges (broadcast-joined out-degrees),
    sum contributions by dst, fold dangling-node mass back uniformly
    (1-row broadcast — no collect), apply damping. Ranks for nodes
    with no in-edges come from the teleport + dangling terms via a
    left join on the node universe. Values are pinned by
    tests/test_graph.py against an independent numpy power iteration
    (1e-9); rank sums are conserved at 1 every iteration."""
    edges = _edges(spark, sf_dir).cache()
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .cache()
    )
    n_nodes = nodes.count()

    out_deg = edges.groupBy("src").agg(F.count("*").alias("deg"))

    from data_wrangler_spark.session import shuffle_width

    # per-iteration shuffles act on the |nodes| keyspace — size the
    # shuffle width to it for the duration of the loop (session.py);
    # plans execute eagerly inside (localCheckpoint), so the narrowed
    # conf never leaks past the loop
    with shuffle_width(spark, n_nodes):
        # deg rides ON the rank frame (ONE left join, before the loop)
        # instead of being re-joined every iteration: the old loop paid
        # a fresh BroadcastExchange of out_deg per iteration (broadcast
        # reuse never crosses localCheckpoint job boundaries) plus a
        # per-iteration left_anti shuffle join just to find the
        # dangling mass. With deg as a column, dangling is a plain
        # filter-aggregate of the checkpointed frame and the
        # contribution join needs no degree side at all (guide §2.4 —
        # remove shuffles outright). rank/deg is computed per NODE
        # before the edge join rather than per edge — the same
        # deterministic float/int division, identical per-edge values.
        ranks = (
            nodes.join(out_deg.withColumnRenamed("src", "node"), "node", "left")
            .select("node", "deg", F.lit(1.0 / n_nodes).alias("rank"))
            .localCheckpoint()
        )
        ranks = _pr_float_loop(edges, ranks, n_nodes)

    return ranks.select("node", F.col("rank").alias("pagerank"))


def _pr_float_loop(edges, ranks, n_nodes):
    for it in range(PR_ITERATIONS):
        contribs = (
            edges.join(
                ranks.filter(F.col("deg").isNotNull()).select(
                    F.col("node").alias("src"),
                    (F.col("rank") / F.col("deg")).alias("c"),
                ),
                "src",
            )
            .select(F.col("dst").alias("node"), "c")
            .groupBy("node")
            .agg(F.sum("c").alias("inflow"))
        )
        # mass parked on dangling nodes (no out-edges ⇔ deg IS NULL)
        # teleports uniformly — a filter-agg of the checkpointed rank
        # RDD, no join
        dangling = ranks.filter(F.col("deg").isNull()).agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm")
        )
        ranks = (
            ranks.select("node", "deg")
            .join(contribs, "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                "deg",
                (
                    F.lit((1.0 - PR_DAMPING) / n_nodes)
                    + F.lit(PR_DAMPING)
                    * (F.coalesce(F.col("inflow"), F.lit(0.0)) + F.col("dm") / n_nodes)
                ).alias("rank"),
            )
        )
        # truncate lineage EVERY iteration: ranks(i) feeds the
        # contribution join, the dangling aggregate, and the final
        # join of iteration i+1 — 3 references, so an uncheckpointed
        # step re-executes 3x inside the next one (measured: every-
        # other-iteration checkpointing is a net 2x LOSS). The
        # previous iteration's checkpoint blocks are released once the
        # new one has materialized (they otherwise live until session
        # end); the first one is the caller's loop-private checkpoint.
        prev, ranks = ranks, ranks.localCheckpoint()
        release_local_checkpoint(prev)
    return ranks


@register(
    "q_triangles",
    oracle="""
    WITH po AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    edges AS (
      SELECT DISTINCT a.p AS u, b.p AS v
      FROM po a JOIN po b ON a.o = b.o AND a.p < b.p),
    deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS d
      FROM (SELECT u AS node FROM edges
            UNION ALL SELECT v AS node FROM edges)
      GROUP BY node),
    tri AS (
      SELECT CAST(count(*) AS BIGINT) AS c
      FROM edges e1
      JOIN edges e2 ON e2.u = e1.v
      JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v),
    wed AS (SELECT CAST(sum(d * (d - 1) / 2) AS BIGINT) AS w FROM deg)
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM edges) AS n_edges,
           wed.w                                        AS n_wedges,
           tri.c                                        AS n_triangles,
           CAST(3 * tri.c AS DOUBLE) / wed.w            AS global_clustering
    FROM tri, wed
    """,
    tags=("ext", "graph", "eager"),
)
def q_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + global clustering coefficient of the
    co-purchase graph (parts appearing in the same order). The Spark
    plan uses DEGREE-ORDERED ORIENTATION (each undirected edge stored
    low-degree endpoint → high-degree endpoint) and then counts by
    ADJACENCY-LIST INTERSECTION: out-neighbor arrays are built once
    per node, each oriented edge (u, v) contributes
    |N⁺(u) ∩ N⁺(v)| triangles, and every triangle is counted exactly
    once (at its lowest-degree apex). No wedge row is ever
    materialized — the O(wedges) intermediate of the naive plan
    becomes an in-JVM array intersection per edge. The oracle counts
    the same triangles with plain id-ordered orientation and an
    explicit wedge join; the equality proves orientation-invariance.

    Scale: pairs are generated MAP-SIDE from per-order part arrays
    (no self-join of the scan), so the only wide ops are three
    aggregations on node/order keys. Orientation caps out-degree at
    ~sqrt(|E|), so adjacency arrays stay small and no key needs
    salting even on power-law graphs; the per-edge join traffic is
    Σ outdeg ≈ |E|·avg-outdeg packed longs, strictly less than the
    wedge-row stream it replaces. The degree map and adjacency are
    broadcast only below an explicit measured size cutoff — above it
    the joins fall back to hash-partitioned shuffles on node id, so
    nothing here assumes a collectable graph."""
    from pyspark import StorageLevel

    po = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    )
    per_o = po.groupBy("o").agg(F.sort_array(F.collect_set("p")).alias("ps"))
    # exactly the k(k-1)/2 id-ordered pairs per order, generated
    # map-side (the naive po⋈po self-join shuffles the scan twice and
    # then needs a distinct over 2× the rows)
    pairs = per_o.select(
        F.explode(
            F.expr(
                "flatten(transform(ps, (x, i) -> "
                "transform(slice(ps, i + 2, size(ps)), "
                "y -> struct(x AS u, y AS v))))"
            )
        ).alias("e")
    ).select("e.u", "e.v")
    # id-ordered adjacency IS the distinct undirected edge set (cross-
    # order duplicates collapse in collect_set) — one shuffle, and the
    # single source for degrees, edge count, and re-orientation
    adj0 = (
        pairs.groupBy("u")
        .agg(F.sort_array(F.collect_set("v")).alias("nbrs"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    pin(adj0)
    # ONE materializing job yields both plan-time scalars (guide §5:
    # the driver does no data work — these are 2 longs): node count
    # for the degree-map broadcast decision AND edge count for the
    # adjacency broadcast decision. Previously two separate jobs
    # (count + a later sum-collect) each paid a full pass over adj0.
    n_nodes, n_edges_val = adj0.agg(
        F.count(F.lit(1)), F.coalesce(F.sum(F.size("nbrs")), F.lit(0))
    ).first()
    deg = (
        adj0.select(F.col("u").alias("node"), F.size("nbrs").alias("d"))
        .unionAll(adj0.select(F.explode("nbrs").alias("node"), F.lit(1).alias("d")))
        .groupBy("node")
        .agg(F.sum("d").alias("d"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # deg feeds THREE consumers (du broadcast, dv broadcast, the
    # wedge aggregate) — uncached, each one re-exploded the whole
    # adjacency and re-shuffled it (3 extra exchanges per run)
    pin(deg)
    # measured-size broadcast decision, not a blind hint: the degree
    # map is 16 B/node — broadcast under ~64 MB, else shuffle join
    bcast_ok = n_nodes < 4_000_000
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    if bcast_ok:
        du, dv = F.broadcast(du), F.broadcast(dv)
    # degree-ordered re-orientation: (lo, hi) by (deg, node)
    orient = (
        adj0.select("u", F.explode("nbrs").alias("v"))
        .join(du, "u")
        .join(dv, "v")
        .select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("lo"), F.col("v").alias("hi")),
            )
            .otherwise(F.struct(F.col("v").alias("lo"), F.col("u").alias("hi")))
            .alias("e")
        )
        .select("e.lo", "e.hi")
    )
    adj = (
        orient.groupBy("lo")
        .agg(F.collect_list("hi").alias("nbrs"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    pin(adj)
    # edge stream re-derived map-side from adj: each row already
    # carries N⁺(lo), so closing needs only ONE join (on hi)
    estream = adj.select(F.col("nbrs").alias("nbrs_u"), F.explode("nbrs").alias("hi"))
    adj_v = adj.select(F.col("lo").alias("hi"), F.col("nbrs").alias("nbrs_v"))
    # adjacency bytes ≈ 8·|E| — its broadcast cutoff keys on the edge
    # count (folded into the adj0 materializing job above), not nodes
    if n_edges_val < 8_000_000:
        # the broadcast build is its own job and materializes the adj
        # cache before estream reads it — no explicit count() needed
        adj_v = F.broadcast(adj_v)
    else:
        # shuffle-join fallback: both join sides read adj inside ONE
        # job, so materialize the cache first to avoid a racing
        # double-compute of the orientation
        adj.count()
    # inner join: an endpoint with no out-neighbors closes nothing
    agg_t = (
        estream.join(adj_v, "hi")
        .select(F.size(F.array_intersect("nbrs_u", "nbrs_v")).alias("n_closed"))
        .agg(F.sum("n_closed").cast("long").alias("n_triangles"))
    )
    agg_e = adj0.agg(F.sum(F.size("nbrs")).cast("long").alias("n_edges"))
    agg_w = deg.agg(
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("long").alias("n_wedges")
    )
    return (
        agg_e.crossJoin(agg_w)
        .crossJoin(agg_t)
        .select(
            "n_edges",
            "n_wedges",
            "n_triangles",
            ((F.lit(3) * F.col("n_triangles")).cast("double") / F.col("n_wedges"))
            .alias("global_clustering"),
        )
    )


PR_SCALE = 10**12  # integer micro-units: 1.0 rank == 10^12


def _pagerank_oracle() -> str:
    """DuckDB mirror of the integer PageRank. The recursive CTE may
    reference itself only once per step, so the oracle exploits the
    bipartite structure: customers receive no in-edges, hence all
    customer ranks stay equal to one scalar R_k, and supplier mass
    reduces to one scalar D_k — the recursion runs over the two
    scalars and per-node ranks are reconstructed at the end with the
    same integer formulas. The Spark side is the general per-node
    implementation; hash-equality proves both the arithmetic and the
    reduction."""
    S = PR_SCALE
    it = PR_ITERATIONS
    return f"""
    WITH RECURSIVE
    po AS (SELECT DISTINCT o.o_custkey AS src,
                           l.l_suppkey + 10000000 AS dst
           FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
    deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM po GROUP BY src),
    nn AS (SELECT CAST(count(DISTINCT src) + count(DISTINCT dst) AS BIGINT) AS c
           FROM po),
    ns AS (SELECT CAST(count(DISTINCT dst) AS BIGINT) AS c FROM po),
    pr(k, r_cust, d_sup) AS (
      SELECT 0,
             (SELECT {S} // c FROM nn),
             (SELECT {S} // c FROM nn) * (SELECT c FROM ns)
      UNION ALL
      SELECT p.k + 1,
             (SELECT (15 * {S}) // (100 * c) FROM nn)
               + (85 * (p.d_sup // (SELECT c FROM nn))) // 100,
             (SELECT SUM((SELECT (15 * {S}) // (100 * c) FROM nn)
                         + (85 * (i.inflow
                                  + p.d_sup // (SELECT c FROM nn))) // 100)
              FROM (SELECT e.dst, SUM(p.r_cust // dg.d) AS inflow
                    FROM po e JOIN deg dg ON dg.src = e.src
                    GROUP BY e.dst) i)
      FROM pr p WHERE p.k < {it}),
    fin AS (SELECT r_cust FROM pr WHERE k = {it}),
    prev AS (SELECT r_cust, d_sup FROM pr WHERE k = {it - 1}),
    sup AS (
      SELECT e.dst AS node,
             (SELECT (15 * {S}) // (100 * c) FROM nn)
               + (85 * (SUM(p.r_cust // dg.d)
                        + MAX(p.d_sup) // (SELECT c FROM nn))) // 100
               AS rank_micro
      FROM po e JOIN deg dg ON dg.src = e.src, prev p
      GROUP BY e.dst),
    cust AS (SELECT DISTINCT src AS node FROM po)
    SELECT node, CAST(rank_micro AS BIGINT) AS rank_micro,
           rank_micro / 1000000000000.0 AS pagerank
    FROM (SELECT c.node, f.r_cust AS rank_micro FROM cust c, fin f
          UNION ALL
          SELECT node, rank_micro FROM sup)
    """


@register("q_pagerank_exact", oracle=_pagerank_oracle(), tags=("ext", "graph", "iterative", "eager"))
def q_pagerank_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank in integer micro-units (rank 1.0 ≡ 10^12): every
    operation is BIGINT multiply / integral `div` / sum, so the
    fixed-point after any iteration count is bit-identical on any
    engine, any partitioning, any summation order — the property
    that makes a 100 TB iterative job verifiable against an
    independent implementation (the float variant q_pagerank is only
    pinned to 1e-9). Truncation injects < N·10⁻¹² per iteration —
    far below the float path's own summation noise.

    Same plan shape as q_pagerank: per-iteration broadcast of
    out-degrees, one shuffle on dst for the inflow sum, dangling mass
    folded via a 1-row cross join, lineage cut by localCheckpoint."""
    S = PR_SCALE
    edges = _edges(spark, sf_dir).cache()
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .cache()
    )
    n = nodes.count()
    base = (15 * S) // (100 * n)
    deg = edges.groupBy("src").agg(F.count("*").alias("d"))

    from data_wrangler_spark.session import shuffle_width

    # keyspace-sized shuffle width for the iteration loop (see
    # q_pagerank / session.shuffle_width)
    with shuffle_width(spark, n):
        # deg carried on the rank frame — the q_pagerank restructure
        # (see its loop comment); integer sums are order-independent,
        # so the output stays bit-identical to the per-iteration-join
        # form the oracle replays (interleaved A/B: EQUAL, 9.5→6.8 s)
        ranks = (
            nodes.join(deg.withColumnRenamed("src", "node"), "node", "left")
            .select("node", "d", F.lit(S // n).cast("long").alias("r"))
            .localCheckpoint()
        )
        ranks = _pr_int_loop(edges, ranks, base, n)

    return ranks.select(
        "node",
        F.col("r").alias("rank_micro"),
        (F.col("r") / F.lit(float(PR_SCALE))).alias("pagerank"),
    )


def _pr_int_loop(edges, ranks, base, n):
    for it in range(PR_ITERATIONS):
        inflow = (
            edges.join(
                ranks.filter(F.col("d").isNotNull()).select(
                    F.col("node").alias("src"), F.expr("r div d").alias("c")
                ),
                "src",
            )
            .select(F.col("dst").alias("node"), "c")
            .groupBy("node")
            .agg(F.sum("c").alias("inflow"))
        )
        dang = ranks.filter(F.col("d").isNull()).agg(
            F.coalesce(F.sum("r"), F.lit(0)).cast("long").alias("dm")
        )
        ranks = (
            ranks.select("node", "d")
            .join(inflow, "node", "left")
            .crossJoin(F.broadcast(dang))
            .select(
                "node",
                "d",
                F.expr(
                    f"CAST({base} + (85 * (coalesce(inflow, 0) + (dm div {n})))"
                    " div 100 AS BIGINT)"
                ).alias("r"),
            )
        )
        # per-iteration eager checkpoint, previous one released (see
        # q_pagerank)
        prev, ranks = ranks, ranks.localCheckpoint()
        release_local_checkpoint(prev)
    return ranks
