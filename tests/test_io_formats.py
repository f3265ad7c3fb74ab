"""Round-trip sinks, CDC diff, and the round-3 analytics additions
(PMI co-occurrence, containment dedup, association rules)."""

from pyspark.sql import functions as F

from data_wrangler_spark import REGISTRY
from data_wrangler_spark.catalog import load_table


def test_csv_roundtrip_preserves_every_row(spark, sf_dir):
    back = REGISTRY["q_csv_roundtrip"].run(spark, sf_dir)
    orders = load_table(spark, sf_dir, "orders")
    assert back.count() == orders.count()
    # spot-check one row's values survived the text hop
    src = orders.orderBy("o_orderkey").limit(1).collect()[0]
    got = back.filter(F.col("o_orderkey") == src.o_orderkey).collect()[0]
    assert got.price_cents == int(src.o_totalprice * 100 + 0.5)
    assert got.order_date == src.o_orderdate.strftime("%Y-%m-%d")


def test_jsonl_roundtrip_parses_nested_prop(spark, sf_dir):
    back = REGISTRY["q_jsonl_roundtrip"].run(spark, sf_dir)
    assert back.count() == load_table(spark, sf_dir, "events").count()
    # prop_k parsed AFTER the round-trip must be non-null everywhere
    assert back.filter(F.col("prop_k").isNull()).count() == 0


def test_cdc_diff_classifies_consistently(spark, sf_dir):
    diff = REGISTRY["q_cdc_diff"].run(spark, sf_dir)
    rows = diff.collect()
    assert rows, "fixture windows should produce changes"
    by_type = {}
    for r in rows:
        by_type.setdefault(r.change_type, []).append(r)
    assert set(by_type) == {"I", "D", "U"}, f"missing change class: {set(by_type)}"
    # inserts have no old image, deletes no new image, updates both
    assert all(r.old_cents is None and r.new_cents is not None for r in by_type["I"])
    assert all(r.old_cents is not None and r.new_cents is None for r in by_type["D"])
    assert all(
        r.old_cents is not None and r.new_cents is not None and r.old_cents != r.new_cents
        for r in by_type["U"]
    )
    # every update is exactly the +500-cent fixture bump on keys ≡ 0 (mod 10)
    assert all(r.new_cents - r.old_cents == 500 and r.pk % 10 == 0 for r in by_type["U"])


def test_cooccurrence_pmi_marginal_identity(spark, sf_dir):
    pmi = REGISTRY["q_cooccurrence_pmi"].run(spark, sf_dir)
    rows = pmi.collect()
    assert rows
    # PMI of a pair that dominates both marginals is positive;
    # sanity: micro values are bounded by ln(T)·1e6 in magnitude
    import math

    t_bound = math.log(10_000_000) * 1_000_000
    assert all(abs(r.pmi_micro) < t_bound for r in rows)


def test_containment_is_asymmetric_and_bounded(spark, sf_dir):
    cont = REGISTRY["q_dedup_containment"].run(spark, sf_dir)
    rows = cont.collect()
    assert rows, "fixture corpus contains near-dup docs"
    assert all(0.5 <= r.containment <= 1.0 for r in rows)
    # directionality: the pair set keys on (sub, super) — no dup keys
    keys = [(r.doc_sub, r.doc_super) for r in rows]
    assert len(keys) == len(set(keys))


def test_assoc_rules_confidence_and_lift_contract(spark, sf_dir):
    rules = REGISTRY["q_assoc_rules"].run(spark, sf_dir).collect()
    assert rules
    for r in rules:
        assert r.antecedent != r.consequent
        assert 0 < r.conf_micro <= 1_000_000  # confidence = P(B|A) ≤ 1
        assert r.n_ab >= 3  # support floor applied
        # confidence formula holds exactly in integer micro-units
        assert r.conf_micro == r.n_ab * 1_000_000 // r.supp_ante
    # ranking is by lift desc with full tiebreak
    lifts = [(-r.lift_micro, r.antecedent, r.consequent) for r in rules]
    assert lifts == sorted(lifts)


def test_orc_roundtrip_matches_csv_roundtrip(spark, sf_dir):
    csv = REGISTRY["q_csv_roundtrip"].run(spark, sf_dir)
    orc = REGISTRY["q_orc_roundtrip"].run(spark, sf_dir)
    assert csv.exceptAll(orc).count() == 0
    assert orc.exceptAll(csv).count() == 0


def test_partitioned_read_prunes_directories(spark, sf_dir):
    df = REGISTRY["q_partitioned_write_prune"].run(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the filter must reach the scan as a PartitionFilter (directory
    # pruning), not a post-scan Filter over all partitions
    assert "PartitionFilters" in plan
    import re

    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert pf and "o_orderstatus" in pf.group(1), plan


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = REGISTRY["q_join_bucketed"].run(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        # the bucketed layout replaces both join-side shuffles; no
        # exchange may hash on the join key
        assert "hashpartitioning(o_custkey" not in plan, plan
        assert "hashpartitioning(c_custkey" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_stream_upsert_state_is_latest_per_user(spark, sf_dir):
    from data_wrangler_spark.catalog import load_table as _lt

    state = REGISTRY["q_stream_upsert_state"].run(spark, sf_dir)
    ev = _lt(spark, sf_dir, "events")
    assert state.count() == ev.select("user_id").distinct().count()
    # the state must never hold an event older than another event of
    # the same user
    j = state.join(ev, "user_id").filter(F.col("ts") > F.col("last_ts"))
    assert j.count() == 0


def test_fingerprint_detects_single_row_change(spark, sf_dir):
    """The fingerprint must move when one row changes: recompute the
    orders fingerprint with one price bumped by a cent and check both
    aggregates differ from the registered query's."""
    from pyspark.sql import functions as F

    from data_wrangler_spark.catalog import load_table
    from data_wrangler_spark.operators.dedup import _md5_long

    base = {
        r.table_name: (r.n_rows, r.hash_sum, r.hash_xor)
        for r in REGISTRY["q_table_fingerprint"].run(spark, sf_dir).collect()
    }
    o = load_table(spark, sf_dir, "orders")
    kmin = o.agg(F.min("o_orderkey")).collect()[0][0]
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long") + F.when(
        F.col("o_orderkey") == kmin, 1
    ).otherwise(0)
    row = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_orderstatus"),
        cents.cast("string"),
        F.date_format("o_orderdate", "yyyy-MM-dd"),
    )
    tweaked = (
        o.select(_md5_long(row).alias("h"))
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.col("h").cast("decimal(38,0)")).cast("string").alias("hash_sum"),
            F.expr("bit_xor(h)").cast("long").alias("hash_xor"),
        )
        .collect()[0]
    )
    n, s, x = base["orders"]
    assert tweaked.n_rows == n
    assert tweaked.hash_sum != s and tweaked.hash_xor != x


def test_schema_evolution_merges_nullable_column(spark, sf_dir):
    """The merged read must surface n_chars as nullable with NULLs
    exactly on generation-1 rows, and both generation dirs exist."""
    import os

    from data_wrangler_spark.operators.io_formats import _IO_SCRATCH
    from data_wrangler_spark.scratch import scratch_tag

    out = REGISTRY["q_schema_evolution"].run(spark, sf_dir)
    rows = out.collect()
    path = f"{_IO_SCRATCH}/{scratch_tag(sf_dir)}/schema_evo"
    assert os.path.exists(f"{path}/gen=1") and os.path.exists(f"{path}/gen=2")
    for r in rows:
        if r.generation == 1:
            assert r.n_with_chars == 0 and r.sum_chars is None
        else:
            assert r.n_with_chars == r.n_docs and r.sum_chars > 0


def test_join_dpp_plan_has_dynamic_pruning(spark, sf_dir):
    """The fact scan must carry a runtime dynamicpruningexpression in
    its PartitionFilters (not a constant-folded static filter), and
    the dim side must broadcast."""
    out = REGISTRY["q_join_dpp"].run(spark, sf_dir)
    plan = out._jdf.queryExecution().toString()
    assert "dynamicpruning" in plan.lower()
    assert "BroadcastHashJoin" in plan


def test_delete_rows_removes_only_victims(spark, sf_dir):
    """Post-delete table (CURRENT): zero victims remain, every
    survivor remains, all 8 buckets present."""
    from pyspark.sql import functions as F

    from data_wrangler_spark.catalog import load_table
    from data_wrangler_spark.operators.io_formats import (
        DELETE_MOD,
        _erasure_path,
        read_snapshot,
    )
    from data_wrangler_spark.scratch import read_manifest

    REGISTRY["q_delete_rows"].run(spark, sf_dir).collect()
    base = _erasure_path(sf_dir, DELETE_MOD)
    after = read_snapshot(spark, base)
    assert after.filter(F.col("doc_id") % DELETE_MOD == 0).count() == 0
    survivors = {
        r.doc_id
        for r in load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % DELETE_MOD != 0)
        .select("doc_id")
        .collect()
    }
    assert {r.doc_id for r in after.select("doc_id").collect()} == survivors
    buckets = {p.split("-")[1] for p in read_manifest(base)["files"]}
    assert buckets == {f"b{bk}" for bk in range(8)}


def test_xml_roundtrip_matches_csv_roundtrip(spark, sf_dir):
    """The XML sink+source hop must return byte-identical rows to the
    CSV hop (both read back the same orders projection)."""
    a = REGISTRY["q_xml_roundtrip"].run(spark, sf_dir)
    b = REGISTRY["q_csv_roundtrip"].run(spark, sf_dir)
    assert a.columns == b.columns
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_snapshot_commit_time_travel_and_minimal_rewrite(spark, sf_dir):
    """Manifest snapshots: v1 (pre-delete) stays readable after the
    v2 commit; v2 carries survivor files BY REFERENCE (minimal
    rewrite); CURRENT resolves to v2."""
    import json
    import os

    from data_wrangler_spark.operators.io_formats import (
        SNAPSHOT_MOD,
        _erasure_path,
        read_snapshot,
    )

    REGISTRY["q_snapshot_commit"].run(spark, sf_dir).collect()
    base = _erasure_path(sf_dir, SNAPSHOT_MOD)
    n_total = load_table(spark, sf_dir, "documents").count()
    n_victims = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % SNAPSHOT_MOD == 0)
        .count()
    )
    # time travel: the v1 snapshot still holds every row
    v1 = read_snapshot(spark, base, version=1)
    assert v1.count() == n_total
    # CURRENT → v2: victims gone, survivors intact
    cur = read_snapshot(spark, base)
    assert cur.count() == n_total - n_victims
    assert cur.filter(F.col("doc_id") % SNAPSHOT_MOD == 0).count() == 0
    # minimal rewrite: v2 references at least one UNCHANGED v1 file
    # unless every bucket held a victim
    m1 = json.load(open(f"{base}/manifest-v1.json"))
    m2 = json.load(open(f"{base}/manifest-v2.json"))
    shared = set(m1["files"]) & set(m2["files"])
    rewritten_buckets = {p.split("-")[1] for p in set(m2["files"]) - shared}
    all_buckets = {p.split("-")[1] for p in m1["files"]}
    assert shared or rewritten_buckets == all_buckets
    # immutability: v1 data files were never modified in place
    assert set(m1["files"]) <= {
        f"data/{f}" for f in os.listdir(f"{base}/data")
    }
