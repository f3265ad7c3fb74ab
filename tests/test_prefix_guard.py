"""The PPJoin saturation guard (VERDICT r14 #1): the policy
q_dedup_prefix_audit measured in r14 ("use the capped family on
dictionary-saturating corpora") is ENFORCED inside
prefix_verified_pairs, which both q_dedup_jaccard_prefix and
q_dedup_prefix_keep run through. The guard is part of the plan: the
builder starts no job, and executing the plan on a saturating corpus
fails before the quadratic stage, with a refusal that names the
capped alternatives."""

import pytest
from py4j.protocol import Py4JJavaError

from conftest import _jobs_started_by
from data_wrangler_spark import Engine
from data_wrangler_spark.operators.dedup import PREFIX_CAND_PER_DOC
from data_wrangler_spark.registry import REGISTRY


@pytest.fixture(scope="module")
def saturating_sf_dir(spark, tmp_path_factory):
    """A corpus that violates Heaps' law by construction: 240 docs of
    40 words each, all drawn from an 8-word vocabulary, so every
    3-gram shingle is shared by ~hundreds of documents and the prefix
    filter has no rarity to prune with (candidates/doc in the
    thousands — far over PREFIX_CAND_PER_DOC while the driver
    fixtures sit at ≤ ~63)."""
    vocab = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]
    rows = []
    for i in range(240):
        wordlist = [vocab[(i + j) % len(vocab)] for j in range(40)]
        text = " ".join(wordlist)
        rows.append((i + 1, text, len(text), "en", f"src{i % 3}"))
    d = tmp_path_factory.mktemp("saturating")
    spark.createDataFrame(
        rows, "doc_id long, text string, n_chars int, lang string, source string"
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    return str(d)


def test_guard_trips_on_saturating_corpus(spark, saturating_sf_dir):
    """describe() and explain() only plan, so they neither start a job
    nor refuse; collecting the plan does refuse."""
    eng = Engine(spark, saturating_sf_dir)
    eng.run("q_dedup_jaccard_prefix")  # cold: infers the table schema
    _, jobs = _jobs_started_by(
        spark,
        lambda: (
            eng.describe("q_dedup_jaccard_prefix"),
            eng.explain("q_dedup_jaccard_prefix"),
        ),
    )
    assert jobs == 0
    with pytest.raises(Py4JJavaError) as ei:
        eng.run("q_dedup_jaccard_prefix").collect()
    eng.release_cache()
    # the refusal carries the accounting and the alternatives
    msg = str(ei.value)
    assert "candidates/doc" in msg
    assert "q_dedup_minhash" in msg and "q_dedup_jaccard" in msg
    assert "SPARK_GRAFT_PREFIX_CAND_PER_DOC" in msg


def test_guard_covers_the_fused_keeper(spark, saturating_sf_dir):
    with pytest.raises(Py4JJavaError, match="exact prefix join refused"):
        REGISTRY["q_dedup_prefix_keep"].run(spark, saturating_sf_dir).collect()


def test_env_override_opts_into_the_quadratic_plan(
    spark, saturating_sf_dir, monkeypatch
):
    """The documented verify-stage escape hatch: raising the bound
    runs the exact join, and on this planted corpus (every doc of a
    rotation class is a near-dup of its neighbors) it emits pairs —
    proving the guard sits BEFORE the join, not in place of it."""
    monkeypatch.setenv("SPARK_GRAFT_PREFIX_CAND_PER_DOC", "inf")
    df = REGISTRY["q_dedup_jaccard_prefix"].run(spark, saturating_sf_dir)
    assert df.count() > 0


def test_driver_fixture_is_unaffected(spark, sf_dir):
    """The guard is oracle-neutral where it passes: the driver
    fixture's candidate load (≤ ~63/doc at every sf) clears the
    256/doc bound with ~4× headroom, so the registered query runs
    and emits the same verified pairs as before."""
    assert PREFIX_CAND_PER_DOC == 256.0
    df = REGISTRY["q_dedup_jaccard_prefix"].run(spark, sf_dir)
    rows = df.collect()
    assert all(r.jaccard >= 0.6 for r in rows)


def test_refusal_leaves_no_pinned_postings_index(spark, saturating_sf_dir):
    """ADVICE r16: a refused run must not park a MEMORY_AND_DISK copy
    of the saturating postings index in a long-lived serving session.
    The refusal now comes at execution, after the builder pinned its
    frames (shingle sets, postings buckets, guard verdict), so the
    caller's release_cache() must leave none of them cached."""
    from pyspark import StorageLevel

    from data_wrangler_spark.functions.distributed import pinned_frames

    eng = Engine(spark, saturating_sf_dir)
    eng.release_cache()
    df = eng.run("q_dedup_jaccard_prefix")
    built = pinned_frames()
    assert any("ds" in f.columns for f in built)  # the postings buckets
    with pytest.raises(Py4JJavaError):
        df.collect()
    eng.release_cache()
    assert pinned_frames() == []
    assert [f.storageLevel for f in built] == [StorageLevel.NONE] * len(built)


def test_keep_auto_routes_exact_on_driver_fixture(spark, sf_dir):
    """VERDICT r15 #1: under the candidate bound the router takes the
    exact PPJoin branch and its keeper decisions coincide with
    q_dedup_prefix_keep's."""
    rows = REGISTRY["q_dedup_keep_auto"].run(spark, sf_dir).collect()
    assert {r.route for r in rows} == {"exact"}
    base = REGISTRY["q_dedup_prefix_keep"].run(spark, sf_dir).collect()
    key = lambda r: (r.doc_id, r.component, r.n_chars, r.keep)  # noqa: E731
    assert sorted(key(r) for r in rows) == sorted(key(r) for r in base)


def test_keep_auto_routes_lsh_on_saturating_corpus(spark, saturating_sf_dir):
    """On the dictionary-saturating corpus the guard refuses the exact
    branch and the router falls back to the MAX_BUCKET-capped LSH
    keeper — same rows as q_dedup_lsh_keep, no refusal escapes, and
    the route is disclosed on every row."""
    rows = REGISTRY["q_dedup_keep_auto"].run(spark, saturating_sf_dir).collect()
    assert {r.route for r in rows} == {"lsh"}
    base = REGISTRY["q_dedup_lsh_keep"].run(spark, saturating_sf_dir).collect()
    key = lambda r: (r.doc_id, r.component, r.n_chars, r.keep)  # noqa: E731
    assert sorted(key(r) for r in rows) == sorted(key(r) for r in base)


def test_keep_auto_ignores_env_escape_hatch(
    spark, saturating_sf_dir, monkeypatch
):
    """The router runs with the HARD default bound: the env opt-out
    that admits the quadratic plan for verify stages must not flip the
    route (the oracle replays the decision from a constant, so an env
    dependence would be an invisible correctness fork)."""
    monkeypatch.setenv("SPARK_GRAFT_PREFIX_CAND_PER_DOC", "inf")
    df = REGISTRY["q_dedup_keep_auto"].run(spark, saturating_sf_dir)
    assert df.select("route").distinct().collect()[0][0] == "lsh"


def test_keep_auto_oracle_replays_lsh_route(spark, saturating_sf_dir):
    """The DuckDB oracle takes the SAME decision from the SAME
    integer aggregate on the saturating corpus (the driver only ever
    sees the exact route at its fixtures — this pins the other arm):
    full row-set equality, route column included."""
    import duckdb

    df = REGISTRY["q_dedup_keep_auto"].run(spark, saturating_sf_dir)
    got = sorted(tuple(r) for r in df.collect())
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{saturating_sf_dir}/documents.parquet/*.parquet')"
    )
    cols = [d[0] for d in con.execute(
        "SELECT 1"
    ).description]  # warm the connection
    res = con.execute(REGISTRY["q_dedup_keep_auto"].oracle)
    cols = [d[0] for d in res.description]
    want = sorted(tuple(r) for r in res.fetchall())
    assert cols == df.columns
    assert got == want


def test_guard_pair_count_expression_survives_giant_bucket(spark):
    """The per-bucket candidate count widens to BIGINT before the
    product: a single >=46,341-posting bucket (the saturating regime
    the guard refuses) must count exactly, not overflow int32."""
    from pyspark.sql import functions as F

    n = 50_000
    row = spark.createDataFrame([(list(range(n)),)], "ds array<int>")
    got = row.select(
        F.expr(
            "cast(size(ds) as bigint) * (cast(size(ds) as bigint) - 1) / 2"
        ).cast("long").alias("cand")
    ).collect()[0]["cand"]
    assert got == n * (n - 1) // 2  # 1,249,975,000 > 2^31 - 1
