"""Invariants for quality_ts.py operators. Exact values are pinned by
the DuckDB oracles; these pin the semantics."""

from data_wrangler_spark.registry import REGISTRY


def test_resample_buckets_are_hour_aligned(spark, sf_dir):
    rows = REGISTRY["q_resample"].run(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.bucket.minute == 0 and r.bucket.second == 0
        assert r.n_events >= r.n_users >= 1


def test_locf_fills_all_interior_gaps(spark, sf_dir):
    rows = REGISTRY["q_fill_locf"].run(spark, sf_dir).collect()
    assert rows
    by_type = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r)
    for rs in by_type.values():
        rs.sort(key=lambda r: r.day)
        seen_obs = False
        for r in rs:
            if r.n_raw is not None:
                seen_obs = True
                assert r.n_filled == r.n_raw  # observed days pass through
            elif seen_obs:
                assert r.n_filled is not None  # gap after first obs is filled
        # the grid is dense: consecutive days, no holes
        for prev, nxt in zip(rs, rs[1:]):
            assert (nxt.day - prev.day).days == 1


def test_zscore_only_flags_beyond_threshold(spark, sf_dir):
    from data_wrangler_spark.operators.quality_ts import Z_THRESHOLD

    rows = REGISTRY["q_zscore"].run(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert abs(r.z) > Z_THRESHOLD


def test_winsorize_tightens_totals(spark, sf_dir):
    rows = REGISTRY["q_winsorize"].run(spark, sf_dir).collect()
    assert rows
    for r in rows:
        # ~5% clipped each side, never more than ~6%
        assert 0 < r.n_clip_low <= 0.06 * r.n
        assert 0 < r.n_clip_high <= 0.06 * r.n
        assert r.sum_winsorized != r.sum_raw


def test_profile_counts_consistent(spark, sf_dir):
    rows = REGISTRY["q_profile_table"].run(spark, sf_dir).collect()
    assert len(rows) == 5
    n_rows = rows[0].n_rows
    by_col = {r.col_name: r for r in rows}
    assert by_col["o_orderkey"].n_distinct == n_rows  # primary key
    assert by_col["o_orderstatus"].n_distinct <= 3
    for r in rows:
        assert r.n_rows == n_rows
        assert 0 <= r.n_null <= n_rows
        assert 1 <= r.n_distinct <= n_rows


def test_mode_is_unique_per_group(spark, sf_dir):
    rows = REGISTRY["q_agg_mode"].run(spark, sf_dir).collect()
    assert rows
    statuses = [r.o_orderstatus for r in rows]
    assert len(statuses) == len(set(statuses))
    assert all(r.n >= 1 for r in rows)


def test_basket_pairs_canonical_and_ranked(spark, sf_dir):
    from data_wrangler_spark.operators.quality_ts import BASKET_TOP_N

    rows = REGISTRY["q_basket_pairs"].run(spark, sf_dir).collect()
    assert 0 < len(rows) <= BASKET_TOP_N
    assert all(r.part_a < r.part_b for r in rows)
    counts = [r.n_orders for r in rows]
    assert counts == sorted(counts, reverse=True)


def test_zorder_envelopes_beat_single_sort(spark, sf_dir):
    """Z-ordered files must have materially tighter 2-D envelopes
    than a 1-D sort: the y-dimension envelope of a zval layout should
    cover far less than the full range for most files."""
    rows = REGISTRY["q_zorder_layout"].run(spark, sf_dir).collect()
    from data_wrangler_spark.operators.quality_ts import ZORDER_FILES

    assert len(rows) == ZORDER_FILES
    spans_x = [r.x_max - r.x_min for r in rows]
    spans_y = [r.y_max - r.y_min for r in rows]
    # both dimensions stay bounded on average (a 1-D sort leaves the
    # other dimension spanning ~the full 0..255 range in every file)
    assert sum(spans_x) / len(spans_x) < 200
    assert sum(spans_y) / len(spans_y) < 200
    # file z-ranges are disjoint and ordered
    zs = sorted(rows, key=lambda r: r.file_id)
    for a, b in zip(zs, zs[1:]):
        assert a.z_max <= b.z_min


def test_compact_files_reduces_file_count(spark, sf_dir):
    """Compaction must actually merge the debris: 64 fragment files
    in, ceil(bytes/target) files out — and never more files than it
    started with."""
    import math
    import os

    from data_wrangler_spark.operators.quality_ts import (
        _COMPACT_SCRATCH,
        COMPACT_FRAGMENT_FILES,
        COMPACT_TARGET_BYTES,
    )

    from data_wrangler_spark.scratch import scratch_tag

    REGISTRY["q_compact_files"].run(spark, sf_dir).collect()
    sf_tag = scratch_tag(sf_dir)
    frag = f"{_COMPACT_SCRATCH}/{sf_tag}/fragmented"
    comp = f"{_COMPACT_SCRATCH}/{sf_tag}/compacted"

    def parquet_files(path):
        return [e for e in os.scandir(path) if e.name.endswith(".parquet")]

    n_frag = len(parquet_files(frag))
    n_comp = len(parquet_files(comp))
    assert n_frag == COMPACT_FRAGMENT_FILES
    frag_bytes = sum(e.stat().st_size for e in parquet_files(frag))
    assert n_comp == max(1, math.ceil(frag_bytes / COMPACT_TARGET_BYTES))
    assert n_comp < n_frag


def test_ewma_bounded_by_value_range(spark, sf_dir):
    """A convex-combination smoother can never leave the observed
    value range (modulo the 1-micro-unit floor truncation)."""
    from pyspark.sql import functions as F

    from data_wrangler_spark.catalog import load_table

    bounds = {
        r.user_id: (r.lo, r.hi)
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
        .collect()
    }
    rows = REGISTRY["q_ewma"].run(spark, sf_dir).collect()
    assert rows and len(rows) == len(bounds)
    for r in rows:
        lo, hi = bounds[r.user_id]
        assert lo - 1e-5 <= r.ewma <= hi + 1e-5
        assert r.n_events >= 1


def test_rollup_incremental_layout_and_marker(spark, sf_dir):
    """The incremental build must leave per-day hive partitions plus
    the completion marker, and the newest day must be present (it is
    written by the separate append job)."""
    import os

    from data_wrangler_spark.catalog import load_table
    from data_wrangler_spark.operators.quality_ts import _ROLLUP_INC_SCRATCH
    from data_wrangler_spark.scratch import MARKER, scratch_tag

    from pyspark.sql import functions as F

    REGISTRY["q_rollup_incremental"].run(spark, sf_dir).collect()
    path = f"{_ROLLUP_INC_SCRATCH}/{scratch_tag(sf_dir)}"
    assert os.path.exists(f"{path}/{MARKER}")
    days = {e.name for e in os.scandir(path) if e.name.startswith("day=")}
    ev = load_table(spark, sf_dir, "events")
    dmax = ev.agg(F.max(F.date_trunc("day", "ts").cast("date"))).collect()[0][0]
    assert f"day={dmax.isoformat()}" in days
    assert len(days) > 1


def test_rolling_distinct_window_semantics(spark, sf_dir):
    """Each day's wau equals the brute-force distinct over the
    trailing 7 calendar days, and is >= that single day's DAU."""
    import datetime

    from data_wrangler_spark.catalog import load_table

    from pyspark.sql import functions as F

    ud = {
        (r.day, r.user_id)
        for r in load_table(spark, sf_dir, "events")
        .select(
            F.date_trunc("day", "ts").cast("date").alias("day"), "user_id"
        )
        .distinct()
        .collect()
    }
    rows = REGISTRY["q_rolling_distinct"].run(spark, sf_dir).collect()
    assert rows
    for r in rows:
        window = {
            u
            for (d, u) in ud
            if 0 <= (r.day - d).days <= 6
        }
        assert r.wau == len(window)
        dau = len({u for (d, u) in ud if d == r.day})
        assert r.wau >= dau


def test_time_weighted_avg_within_value_bounds(spark, sf_dir):
    """A LOCF-weighted mean is a convex combination of observed
    values (all but each user's last) — it must stay inside their
    range, modulo the 1e-6 quantization floor."""
    from data_wrangler_spark.catalog import load_table

    from pyspark.sql import functions as F

    bounds = {
        r.user_id: (r.lo, r.hi)
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
        .collect()
    }
    rows = REGISTRY["q_time_weighted_avg"].run(spark, sf_dir).collect()
    assert rows
    for r in rows:
        lo, hi = bounds[r.user_id]
        assert lo - 1e-5 <= r.twa <= hi + 1e-5
        assert r.dur_seconds > 0


def test_dq_checks_all_pass_on_clean_fixture(spark, sf_dir):
    rows = {r.check_name: r.n_violations for r in
            REGISTRY["q_dq_checks"].run(spark, sf_dir).collect()}
    assert len(rows) == 6
    assert all(v == 0 for v in rows.values()), rows


def test_moving_median_matches_bruteforce(spark, sf_dir):
    """Each day's med_total equals the python median of the trailing
    ≤7 daily totals."""
    import statistics as pystats

    from pyspark.sql import functions as F

    from data_wrangler_spark.catalog import load_table

    daily = {
        r.day: r.total
        for r in load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", "ts").cast("date").alias("day"))
        .agg(
            F.sum(F.col("value").cast("decimal(22,6)"))
            .cast("double")
            .alias("total")
        )
        .collect()
    }
    rows = REGISTRY["q_moving_median"].run(spark, sf_dir).collect()
    assert len(rows) == len(daily)
    for r in rows:
        window = [v for d, v in daily.items() if 0 <= (r.day - d).days <= 6]
        assert r.n_days == len(window)
        assert abs(r.med_total - pystats.median(window)) < 1e-9


def test_skew_audit_consistency(spark, sf_dir):
    """The audit's own invariants: n_rows = table count, hot_cnt =
    max_group, p50 ≤ p99 ≤ max, top-1 share reproduces the integer
    division."""
    from data_wrangler_spark.catalog import load_table
    from data_wrangler_spark.registry import REGISTRY

    (r,) = REGISTRY["q_skew_audit"].run(spark, sf_dir).collect()
    assert r.n_rows == load_table(spark, sf_dir, "lineitem").count()
    assert r.hot_cnt == r.max_group
    assert r.p50_group <= r.p99_group <= r.max_group
    assert r.top1_share_micro == r.max_group * 1_000_000 // r.n_rows
    assert r.n_keys > 0 and r.hot_key is not None
