"""Derive a larger scale factor from sf0.1 and run the headline set.

The driver fixtures stop at sf0.1; the 100 TB claims rest on plan
shapes plus the measured 0.001→0.1 scaling table (SCALE.md). This
probe extends the measured span ~5× by replicating sf0.1 with
key-offset copies into `.scratch/sfprobe` (never touching
/root/testdata):

- dims region/nation stay single-copy (their keys are referenced, not
  replicated);
- every other table gets FACTOR copies with primary/foreign keys
  offset consistently (custkey/orderkey/partkey/suppkey move
  together), so join cardinalities per key and group sizes per key
  are preserved — the workload gets FACTOR× more keys, not hotter
  keys;
- events shift ts by 31 days per copy (per-day/hourly structure
  preserved, the day grid grows ×FACTOR);
- documents (fixture v3): copy 0 is identity; every other copy gets a
  DETERMINISTIC per-copy word permutation (sort words by
  hash(doc_id, copy, position)) plus the per-copy suffix token, so a
  copy shares its base's word multiset (word-stat quality ops keep
  their distributions) but almost none of its word 3-gram shingles —
  the old suffix-only copies made every doc a FACTOR-way near-dup
  clique, so pair-emitting TEXT dedup ops' fN numbers measured the
  same fixture pathology the embeddings side had (v2). On top,
  bounded planting exactly like the embedding scheme: PLANT_PCT% of
  base docs plant ONE exact text copy (same decade, 3 day-classes
  away — visible to the history-vs-day-N incremental probes), ≤2-way
  clusters by construction;
- embeddings (fixture v2, VERDICT r13 #1): copy 0 is identity; every
  other copy gets deterministic per-element noise (hash-seeded, ±2.0
  per dim on unit vectors) so copies are ANGULARLY INDEPENDENT of
  their base and of each other — the old identical-copy scheme made
  every vector a FACTOR-way near-dup, so pair-emitting embed ops
  measured fixture pathology, not serve cost. On top of the noise
  floor, BOUNDED planted clusters: PLANT_PCT% of base vectors plant
  exactly ONE exact-copy partner (in exactly one copy index, chosen
  by hash), carrying the embedding of a same-decade different-
  day-class base vector so incremental probes (history vs day-2)
  can actually catch it. Clusters are ≤2-way by construction; all
  decisions are base-vec_id-hash-derived, so regeneration is
  bit-identical. The remaining emission floor is the corpus's own
  isotropic background (P[cos≥0.35] ≈ 0.2% per pair at d=64 — no
  100k-point arrangement can sit pairwise below cos 0.35, see
  SCALE.md), which the operators' MAX_CELL guard bounds linearly.

Usage: python tools/scale_probe.py [factor]
Writes the derived tables once (marker-guarded; regenerates when
FIXTURE_VERSION bumps), then runs bench.py's headline set against
them and prints the one-line JSON.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, "/root/repo")

from data_wrangler_spark.scratch import ROOT  # noqa: E402

SRC = "/root/testdata/sf0.1"
OUT_BASE = f"{ROOT}/sfprobe"
FIXTURE_VERSION = 3  # v2: decorrelated embedding copies + ≤2-way planted
                     # dups; v3: same treatment for documents (word-
                     # permuted copies + bounded cross-day planting)
PLANT_PCT = 4  # % of base vectors that plant one exact-copy partner


def generate(spark, factor: int) -> str:
    import shutil

    from pyspark.sql import functions as F

    out = f"{OUT_BASE}/f{factor}"
    marker = f"{out}/_DONE"
    want = f"factor={factor} from {SRC} v{FIXTURE_VERSION}\n"
    if os.path.exists(marker) and open(marker).read() == want:
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)

    def load(t):
        # load_table normalizes the events ts layout (nanos → real
        # timestamp), so the derived parquet always stores TIMESTAMP
        from data_wrangler_spark.catalog import load_table

        return load_table(spark, SRC, t)

    # key strides: one power-of-ten above each table's max key
    def stride(df, col):
        m = df.agg(F.max(col)).collect()[0][0]
        s = 1
        while s <= m:
            s *= 10
        return s

    o, li, c, su, p = (load(t) for t in
                       ("orders", "lineitem", "customer", "supplier", "part"))
    ev, d, e = load("events"), load("documents"), load("embeddings")
    SO, SC, SS, SP = (stride(o, "o_orderkey"), stride(c, "c_custkey"),
                      stride(su, "s_suppkey"), stride(p, "p_partkey"))
    SE = stride(ev, "event_id")
    # user_id / doc_id / vec_id are ONE key domain (events.user_id →
    # documents.doc_id → embeddings.vec_id; relational_extras.py:688,
    # multimodal.py:32): a per-column stride would shift the copies
    # differently whenever their maxes straddle a power of ten,
    # silently emptying cross-table joins at higher factors — so the
    # whole domain shares the widest stride (ADVICE r4).
    SU = SD = SV = max(
        stride(ev, "user_id"), stride(d, "doc_id"), stride(e, "vec_id")
    )

    def rep(df, exprs):
        parts = []
        for i in range(factor):
            parts.append(df.selectExpr(*[x.format(i=i) for x in exprs]))
        u = parts[0]
        for q in parts[1:]:
            u = u.unionByName(q)
        return u

    for t in ("region", "nation"):
        load(t).write.mode("overwrite").parquet(f"{out}/{t}.parquet")

    def rep_auto(df, offsets: dict, overrides: dict | None = None):
        """Replicate FACTOR× using the table's own column list: keyed
        columns shift by their stride per copy; `overrides` supply a
        per-copy expr template; everything else passes through."""
        overrides = overrides or {}
        exprs = []
        for col in df.columns:
            if col in overrides:
                exprs.append(overrides[col])
            elif col in offsets:
                exprs.append(f"{col} + {{i}} * {offsets[col]} AS {col}")
            else:
                exprs.append(col)
        return rep(df, exprs)

    rep_auto(c, {"c_custkey": SC}).write.mode("overwrite").parquet(
        f"{out}/customer.parquet")
    rep_auto(su, {"s_suppkey": SS}).write.mode("overwrite").parquet(
        f"{out}/supplier.parquet")
    rep_auto(p, {"p_partkey": SP}).write.mode("overwrite").parquet(
        f"{out}/part.parquet")
    rep_auto(o, {"o_orderkey": SO, "o_custkey": SC}).write.mode(
        "overwrite").parquet(f"{out}/orders.parquet")
    rep_auto(li, {"l_orderkey": SO, "l_partkey": SP, "l_suppkey": SS}
             ).write.mode("overwrite").parquet(f"{out}/lineitem.parquet")
    rep_auto(ev, {"event_id": SE, "user_id": SU},
             {"ts": "ts + make_interval(0, 0, 0, {i} * 31) AS ts"}
             ).write.mode("overwrite").parquet(f"{out}/events.parquet")
    # documents v3 (module docstring): word-permuted copies + bounded
    # planted exact dups. Planted partner u sits 3 day-classes away in
    # the same id-decade (doc_id % 10 survives the stride — same-day
    # plants would be invisible to the incremental probes); the left
    # join drops partners past the table edge.
    fm1 = max(factor - 1, 1)
    d_partner = d.selectExpr(
        "doc_id AS u_id", "text AS u_text", "lang AS u_lang",
        "source AS u_source",
    )
    d_p = d.withColumn(
        "u_id", F.expr("doc_id - doc_id % 10 + (doc_id + 3) % 10")
    ).join(d_partner, "u_id", "left")
    perm_tmpl = (
        "array_join(transform(array_sort(zip_with("
        "split(trim(text), '\\\\s+'), "
        "sequence(1, size(split(trim(text), '\\\\s+'))), "
        "(w, p) -> named_struct('k', hash(doc_id, {i}, p), 'w', w))), "
        "s -> s.w), ' ') || ' r{i}x'"
    )
    d_parts = []
    for i in range(factor):
        planted = (
            f"u_text IS NOT NULL AND pmod(hash(doc_id, 5), 100) < {PLANT_PCT}"
            f" AND {i} = 1 + pmod(hash(doc_id, 13), {fm1})"
        )
        txt = (
            "CASE "
            f"WHEN {i} = 0 THEN text "
            f"WHEN {planted} THEN u_text "
            f"ELSE {perm_tmpl.format(i=i)} END"
        )
        d_parts.append(
            d_p.selectExpr(
                f"doc_id + {i} * {SD} AS doc_id",
                f"{txt} AS text",
                f"CASE WHEN {i} > 0 AND ({planted}) THEN u_lang "
                f"ELSE lang END AS lang",
                f"CASE WHEN {i} > 0 AND ({planted}) THEN u_source "
                f"ELSE source END AS source",
                f"length({txt}) AS n_chars",
            )
        )
    d2u = d_parts[0]
    for q in d_parts[1:]:
        d2u = d2u.unionByName(q)
    d2u.write.mode("overwrite").parquet(f"{out}/documents.parquet")
    # embeddings v2 (module docstring): angularly-independent copies
    # + bounded planted near-dups. The planted partner u shares v's
    # id-decade but sits 3 day-classes away (vec_id % 10 survives the
    # power-of-ten stride, so same-day partners would be invisible to
    # the history-vs-day-N probes); the left join drops partners past
    # the table edge (last partial decade).
    partner = e.selectExpr("vec_id AS u_id", "embedding AS u_emb")
    e_p = e.withColumn(
        "u_id",
        F.expr("vec_id - vec_id % 10 + (vec_id + 3) % 10"),
    ).join(partner, "u_id", "left")
    e_parts = []
    for i in range(factor):
        e_parts.append(
            e_p.selectExpr(
                f"vec_id + {i} * {SV} AS vec_id",
                f"""CASE
                      WHEN {i} = 0 THEN embedding
                      WHEN u_emb IS NOT NULL
                           AND pmod(hash(vec_id), 100) < {PLANT_PCT}
                           AND {i} = 1 + pmod(hash(vec_id, 11), {fm1})
                        THEN u_emb
                      ELSE transform(
                             embedding,
                             (x, j) -> cast(x + 2.0d * sin(cast(
                               hash(vec_id, {i}, j) AS double)) AS float))
                    END AS embedding""",
                "label",
            )
        )
    e2u = e_parts[0]
    for q in e_parts[1:]:
        e2u = e2u.unionByName(q)
    e2u.write.mode("overwrite").parquet(f"{out}/embeddings.parquet")

    # the shared-stride contract, asserted: cross-table joins on the
    # user_id/doc_id/vec_id domain must survive replication in EVERY
    # copy, not just copy 0
    ev2 = spark.read.parquet(f"{out}/events.parquet")
    d2 = spark.read.parquet(f"{out}/documents.parquet")
    e2 = spark.read.parquet(f"{out}/embeddings.parquet")
    ud = ev2.join(d2, ev2.user_id == d2.doc_id).count()
    dv = d2.join(e2, d2.doc_id == e2.vec_id).count()
    base_dv = load("documents").join(
        load("embeddings"), F.col("doc_id") == F.col("vec_id")
    ).count()
    assert ud > 0 and dv == factor * base_dv, (
        f"cross-copy join broke: events⋈documents={ud}, "
        f"documents⋈embeddings={dv} (want {factor}×{base_dv})"
    )

    with open(marker, "w") as fh:
        fh.write(want)
    return out


def main() -> None:
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 5
    from data_wrangler_spark.session import get_spark

    spark = get_spark("scale_probe")
    out = generate(spark, factor)
    print(f"derived sf{0.1 * factor:g} at {out}", file=sys.stderr)

    os.environ["SPARK_GRAFT_SF_DIR"] = out
    import bench

    bench.main()


if __name__ == "__main__":
    main()
