"""Core engine semantics pinned to the reference's behavior:
pagination clamps (index.js:475-478), default page math
(index.js:434-436), identifier validation (lib/examiner.js:162-196),
FK child-list convention (index.js:575) — on the reference's own
foo/bar fixture and the driver tables."""

import pytest
from conftest import _jobs_started_by

from pyspark.sql import functions as F

from data_wrangler_spark.catalog import UnknownIdentifierError
from data_wrangler_spark.plans.pagination import clamp_perpage, paginate


def test_clamp_perpage_reference_bounds():
    assert clamp_perpage(0) == 1
    assert clamp_perpage(-5) == 1
    assert clamp_perpage(20) == 20
    assert clamp_perpage(1000) == 1000
    assert clamp_perpage(5000) == 1000  # index.js:475-478


def test_paginate_foobar_rank_sort(spark, foobar):
    """Reference fixture: bar sorted by rank is deterministic with
    the id tiebreaker (the upgrade over the reference's RDBMS-luck)."""
    _, bar = foobar
    assert [r.id for r in bar.orderBy("rank", "id").limit(2).collect()] == [4, 5]


def test_pages_partition_relation(engine):
    """Property: pages are disjoint and their union is the relation
    (requires the pk tiebreaker paginate() appends)."""
    seen = []
    page = 1
    while True:
        rows = engine.list_records("supplier", page=page, perpage=4).collect()
        if not rows:
            break
        seen.extend(r.s_suppkey for r in rows)
        page += 1
    all_keys = [
        r.s_suppkey for r in engine.catalog.table("supplier").collect()
    ]
    assert sorted(seen) == sorted(all_keys)
    assert len(seen) == len(set(seen)), "pages overlap"


def test_unknown_table_rejected(engine):
    with pytest.raises(UnknownIdentifierError):
        engine.list_records("no_such_table")
    with pytest.raises(UnknownIdentifierError):
        engine.list_records("customer; drop table foo")


def test_unknown_column_rejected(engine):
    with pytest.raises(UnknownIdentifierError):
        engine.list_records("customer", sortby="nope")


def test_dynamic_select_validates_identifiers(spark, sf_dir):
    from data_wrangler_spark import REGISTRY

    with pytest.raises(UnknownIdentifierError):
        REGISTRY["q_dynamic_select"].run(spark, sf_dir, table="bad_table")
    with pytest.raises(UnknownIdentifierError):
        REGISTRY["q_dynamic_select"].run(spark, sf_dir, where_col="p_size OR 1=1")


def test_point_lookup_single_row(spark, sf_dir):
    from data_wrangler_spark import REGISTRY

    rows = REGISTRY["q_point_lookup"].run(spark, sf_dir).collect()
    assert len(rows) == 1


def test_child_list_convention(spark, sf_dir):
    """FK convention: children carry exactly the parent's key."""
    from data_wrangler_spark import REGISTRY

    rows = REGISTRY["q_child_list"].run(spark, sf_dir, parent_id=3).collect()
    assert all(r.s_nationkey == 3 for r in rows)


def test_inner_join_fixture_shape(spark, foobar):
    """The reference's ticketAnswers join shape on its own fixture."""
    foo, bar = foobar
    j = (
        foo.alias("t")
        .join(bar.alias("a"), F.col("t.id") == F.col("a.foo_id"))
        .filter(F.col("t.id") == 1)
        .select(F.col("t.id").alias("ticket_id"), F.col("a.id").alias("answer_id"), "a.rank")
    )
    rows = j.collect()
    assert sorted(r.answer_id for r in rows) == [4, 5]  # bar rows with foo_id=1
    assert all(r.ticket_id == 1 for r in rows)


def test_engine_explain_shows_physical_plan(spark, sf_dir):
    from data_wrangler_spark import Engine

    plan = Engine(spark, sf_dir).explain("q_filter_eq")
    assert "PushedFilters" in plan and "Scan parquet" in plan


# -- load_table: parquet schema inferred once per file version --------

def _write_parquet(path, **cols):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table(cols), str(path))


def test_load_table_reuses_schema_without_a_job(spark, tmp_path):
    from data_wrangler_spark.catalog import load_table

    _write_parquet(tmp_path / "region.parquet", r_regionkey=[0, 1, 2], r_name=["a", "b", "c"])
    first, first_jobs = _jobs_started_by(spark, lambda: load_table(spark, str(tmp_path), "region"))
    second, second_jobs = _jobs_started_by(spark, lambda: load_table(spark, str(tmp_path), "region"))
    assert first_jobs >= 1  # schema inference
    assert second_jobs == 0
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())


def test_warm_load_table_writes_no_session_conf(spark, sf_dir, monkeypatch):
    """The session already carries the engine's runtime confs
    (get_spark, Engine, the catalog's own session and the __spark_entry__
    contract apply them), so a warm table load writes none."""
    from pyspark.sql.conf import RuntimeConfig

    from data_wrangler_spark.catalog import load_table

    load_table(spark, sf_dir, "orders")  # warms the schema cache
    writes = []
    set_conf = RuntimeConfig.set

    def counted(self, key, value):
        writes.append(key)
        return set_conf(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", counted)
    for _ in range(20):
        load_table(spark, sf_dir, "orders")
    assert writes == []


def test_load_table_sees_rewritten_file(spark, tmp_path):
    from data_wrangler_spark.catalog import load_table

    path = tmp_path / "nation.parquet"
    _write_parquet(path, n_nationkey=[1, 2])
    assert load_table(spark, str(tmp_path), "nation").columns == ["n_nationkey"]
    _write_parquet(path, n_nationkey=[1, 2], n_name=["x", "y"])
    df = load_table(spark, str(tmp_path), "nation")
    assert df.columns == ["n_nationkey", "n_name"]
    assert sorted(tuple(r) for r in df.collect()) == [(1, "x"), (2, "y")]


def test_load_table_self_join_on_pk(spark, tmp_path):
    """Every load is a new relation with its own attribute ids, so a
    join of two loads on the pk is a real self-join: one row per key,
    not a cartesian product or an ambiguous reference."""
    from data_wrangler_spark.catalog import load_table

    _write_parquet(tmp_path / "supplier.parquet", s_suppkey=[1, 2, 3], s_name=["a", "b", "c"])
    load_table(spark, str(tmp_path), "supplier")  # infer and store the schema
    a = load_table(spark, str(tmp_path), "supplier")
    b = load_table(spark, str(tmp_path), "supplier")
    rows = a.join(b, a.s_suppkey == b.s_suppkey).select(a.s_suppkey, b.s_name).collect()
    assert sorted(tuple(r) for r in rows) == [(1, "a"), (2, "b"), (3, "c")]


def test_load_table_directory_invalidated_by_added_part(spark, tmp_path):
    from data_wrangler_spark.catalog import load_table

    table = tmp_path / "documents.parquet"
    table.mkdir()
    _write_parquet(table / "part-0.parquet", doc_id=[1, 2])
    assert sorted(r.doc_id for r in load_table(spark, str(tmp_path), "documents").collect()) == [1, 2]
    _write_parquet(table / "part-1.parquet", doc_id=[3])
    df, jobs = _jobs_started_by(spark, lambda: load_table(spark, str(tmp_path), "documents"))
    assert jobs >= 1  # new file version: the schema is inferred again
    assert sorted(r.doc_id for r in df.collect()) == [1, 2, 3]
    _, jobs = _jobs_started_by(spark, lambda: load_table(spark, str(tmp_path), "documents"))
    assert jobs == 0


def test_engine_sessions_capture_no_python_call_sites(spark):
    """get_spark turns off PySpark's per-Column call-site capture, which
    costs ~5 py4j round trips on every F.* / Column call."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_analytics_pass_reuses_compiled_codegen_classes(engine, spark):
    """The codegen class cache holds a whole analytics pass (the heavy
    four plus the light four, ~190 generated classes), so a second pass
    compiles next to nothing. With Spark's default 100 entries each
    pass evicted the previous one and recompiled all of its ~180
    classes. Not 0: AQE may re-plan a stage now and then."""
    from data_wrangler_spark.session import CODEGEN_CACHE_ENTRIES

    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)
    compilations = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    ops = [
        ("q_triangles", {}),
        ("q_dedup_minhash", {}),
        ("q_dedup_jaccard", {}),
        ("q_dedup_jaccard_prefix", {}),
        ("q_topk", {"k": 10}),
        ("q_agg_groupby", {"ship_before": "1998-08-01 00:00:00"}),
        ("q_join_multi", {"region": "ASIA"}),
        ("q_window_running_sum", {}),
    ]

    def one_pass() -> int:
        before = compilations.getCount()
        for name, binds in ops:
            engine.run(name, **binds).write.format("noop").mode("overwrite").save()
            engine.release_cache()
        return compilations.getCount() - before

    first = one_pass()
    second = one_pass()
    assert second <= 0.1 * first, (first, second)
