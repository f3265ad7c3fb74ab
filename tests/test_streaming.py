"""Streaming pins: batch ≡ streaming parity for windowed aggregation,
and the append-mode/watermark behaviors the oracle harness can't see."""

from pyspark.sql import functions as F

from data_wrangler_spark import REGISTRY
from data_wrangler_spark.catalog import load_table
from data_wrangler_spark.operators.aggregates import dsum
from data_wrangler_spark.streaming.windows import _event_parts, _run_stream


def _rows(df, keys):
    return sorted(tuple(r[k] for k in keys) for r in df.collect())


def test_tumbling_batch_equals_streaming(spark, sf_dir):
    """The same window expression must produce identical results in
    batch and under readStream in complete mode — Spark's unified
    semantics, verified end-to-end."""
    batch = REGISTRY["q_stream_tumbling"].run(spark, sf_dir)

    streamed = _run_stream(
        "parity",
        _event_parts(spark, sf_dir),
        lambda src: src.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), dsum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            "event_type",
            "n_events",
            "total_value",
        ),
        output_mode="complete",
    )

    keys = ["w_start", "w_end", "event_type", "n_events", "total_value"]
    assert _rows(batch, keys) == _rows(streamed, keys)


def test_watermark_emits_only_closed_windows(spark, sf_dir):
    """Append mode: every emitted window must have closed under the
    final watermark (end ≤ max event time of the FIRST batch − 10min
    is the lower bound; nothing may leak past the stream's max ts)."""
    out = REGISTRY["q_stream_watermark"].run(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).collect()[0]
    emitted = out.collect()
    assert emitted, "watermark stream emitted nothing"
    assert all(r.w_end <= hi for r in emitted)
    # the tail windows (after the final watermark) must NOT be emitted
    batch_all = REGISTRY["q_stream_tumbling"].run(spark, sf_dir).count()
    assert len(emitted) < batch_all


def test_stream_dedup_exact(spark, sf_dir):
    """Duplicated stream → exactly one row per event_id."""
    out = REGISTRY["q_stream_dedup"].run(spark, sf_dir)
    n_events = load_table(spark, sf_dir, "events").count()
    assert out.count() == n_events
    assert out.select("event_id").distinct().count() == n_events


def test_stream_enrich_matches_batch_join(spark, sf_dir):
    """Stream-static enrichment emits exactly the batch join rows."""
    out = REGISTRY["q_stream_enrich"].run(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer")
    expect = ev.join(cust, ev.user_id == cust.c_custkey).count()
    assert out.count() == expect
    assert out.filter(F.col("c_nationkey").isNull()).count() == 0


def test_stream_sink_filters_and_roundtrips(spark, sf_dir):
    """foreachBatch parquet sink: filtered rows absent, rest intact."""
    out = REGISTRY["q_stream_sink_parquet"].run(spark, sf_dir)
    assert out.filter(F.col("event_type") == "view").count() == 0
    ev = load_table(spark, sf_dir, "events")
    expect = ev.filter(F.col("event_type") != "view").count()
    assert out.count() == expect
    assert out.select("event_id").distinct().count() == expect  # no double-writes


def test_stream_left_join_matches_and_proven_nonconversions(spark, sf_dir):
    """Matched rows must equal the inner interval join's result set;
    null-purchase rows must be PROVEN non-conversions (no purchase by
    that user within 30 minutes of the view)."""
    from data_wrangler_spark.catalog import load_table
    from pyspark.sql import functions as F

    left = REGISTRY["q_stream_left_join"].run(spark, sf_dir).collect()
    inner = {
        (r.view_id, r.purchase_id)
        for r in REGISTRY["q_stream_join"].run(spark, sf_dir).collect()
    }
    matched = {(r.view_id, r.purchase_id) for r in left if r.purchase_id is not None}
    assert matched == inner
    # every null row is a true non-conversion within the window
    nulls = [(r.user_id, r.view_ts) for r in left if r.purchase_id is None]
    assert nulls, "watermark never proved any non-conversion"
    ev = load_table(spark, sf_dir, "events")
    purchases = [
        (r.user_id, r.ts)
        for r in ev.filter(F.col("event_type") == "purchase").collect()
    ]
    by_user = {}
    for u, ts in purchases:
        by_user.setdefault(u, []).append(ts)
    from datetime import timedelta

    for u, vts in nulls:
        assert not any(
            vts <= pts <= vts + timedelta(minutes=30) for pts in by_user.get(u, [])
        ), f"user {u} view {vts} actually converted"


def test_stateful_stream_under_rocksdb_provider(spark, sf_dir):
    """The RocksDB state store must be a drop-in: the same stateful
    query (watermarked tumbling agg over a real two-batch stream)
    returns identical rows under it — the provider only changes WHERE
    state lives, never results. This is the config path large-state
    streams use at scale instead of the on-heap default."""
    from data_wrangler_spark.session import rocksdb_state_store

    baseline = {
        (r.w_start, r.w_end, r.event_type): (r.n_events, r.total_value)
        for r in REGISTRY["q_stream_watermark"].run(spark, sf_dir).collect()
    }
    with rocksdb_state_store(spark):
        assert (
            spark.conf.get("spark.sql.streaming.stateStore.providerClass")
            .endswith("RocksDBStateStoreProvider")
        )
        under_rocks = {
            (r.w_start, r.w_end, r.event_type): (r.n_events, r.total_value)
            for r in REGISTRY["q_stream_watermark"].run(spark, sf_dir).collect()
        }
    assert under_rocks == baseline and len(baseline) > 0


def test_stream_rollup_merged_across_batches(spark, sf_dir):
    """The continuous aggregate must be built from MULTIPLE merged
    micro-batches (≥2 versioned state dirs), and its day totals must
    equal the raw batch recompute."""
    import os

    from pyspark.sql import functions as F

    from data_wrangler_spark.catalog import load_table
    from data_wrangler_spark.registry import REGISTRY
    from data_wrangler_spark.streaming.windows import SCRATCH

    out = REGISTRY["q_stream_rollup"].run(spark, sf_dir)
    got = {
        (r.day, r.event_type): (r.n_events, round(r.sum_value, 6))
        for r in out.collect()
    }
    root = os.path.join(SCRATCH, "rollup_state")
    newest = max(os.scandir(root), key=lambda e: e.stat().st_mtime).path
    versions = [e.name for e in os.scandir(newest) if e.name.startswith("v")]
    assert len(versions) >= 2, versions

    raw = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            F.date_trunc("day", "ts").cast("date").alias("day"), "event_type"
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(22,6)")).cast("double").alias("s"),
        )
    )
    expect = {
        (r.day, r.event_type): (r.n, round(r.s, 6)) for r in raw.collect()
    }
    assert got == expect


def test_stream_rollup_merge_is_redelivery_idempotent(spark, sf_dir):
    """Replaying a completed batch must rebuild the SAME version
    content: simulate foreachBatch redelivery by re-merging batch 1's
    input against the on-disk state and comparing versions."""
    import os

    from pyspark.sql import functions as F

    from data_wrangler_spark.registry import REGISTRY
    from data_wrangler_spark.streaming.windows import SCRATCH

    REGISTRY["q_stream_rollup"].run(spark, sf_dir).collect()
    root = os.path.join(SCRATCH, "rollup_state")
    newest = max(os.scandir(root), key=lambda e: e.stat().st_mtime).path
    versions = sorted(
        e.name for e in os.scandir(newest) if e.name.startswith("v")
    )
    assert len(versions) >= 2
    # v1 was built from v0 + batch1; a redelivered batch1 must read
    # v0 again (not v1), so re-deriving "merge source for batch 1"
    # from disk returns v0 even though v1 exists
    b1 = int(versions[1][1:])
    below = [v for v in versions if int(v[1:]) < b1]
    assert below == [versions[0]]


def test_ts_bounds_handles_legacy_int64_nanos_layout(spark, tmp_path):
    """ADVICE r4 regression: the legacy fixture layout stores ts as
    INT64 epoch-nanos; parquet footer stats are then plain ints, and
    returning them raw would compare a numeric against ev's timestamp
    ts. _ts_bounds must convert to the same wall-clock datetimes
    load_table's timestamp_micros(ts div 1000) yields."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_wrangler_spark.streaming.windows import _ts_bounds

    lo_ns = 1_600_000_000_123_456_789
    hi_ns = 1_600_000_500_987_654_321
    sf_dir = str(tmp_path)
    pq.write_table(
        pa.table({"ts": pa.array([lo_ns, hi_ns], type=pa.int64())}),
        f"{sf_dir}/events.parquet",
    )
    lo, hi = _ts_bounds(spark, sf_dir, ev=None)  # ev unused on stats path
    assert isinstance(lo, datetime.datetime) and isinstance(hi, datetime.datetime)
    assert lo == datetime.datetime(2020, 9, 13, 12, 26, 40, 123456)
    assert hi == datetime.datetime(2020, 9, 13, 12, 35, 0, 987654)
    # timestamp-typed stats still come back as datetimes (current layout)
    pq.write_table(
        pa.table({"ts": pa.array(
            [datetime.datetime(2021, 1, 1), datetime.datetime(2021, 6, 1)],
            type=pa.timestamp("us"),
        )}),
        f"{sf_dir}/events.parquet",
    )
    lo2, hi2 = _ts_bounds(spark, sf_dir, ev=None)
    assert (lo2, hi2) == (
        datetime.datetime(2021, 1, 1),
        datetime.datetime(2021, 6, 1),
    )


def test_stream_asof_enrich_state_crosses_batches(spark, sf_dir):
    """The as-of state must actually survive the micro-batch
    boundary: at least one click in the LATER half of event time
    (batch 2) must be enriched by a purchase from the EARLIER half
    (batch 1) — i.e. the reference was held in state, not co-batched."""
    from data_wrangler_spark import REGISTRY
    from data_wrangler_spark.catalog import load_table
    from data_wrangler_spark.streaming.windows import _ts_bounds

    out = REGISTRY["q_stream_asof_enrich"].run(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    lo, hi = _ts_bounds(spark, sf_dir, ev)
    cut = lo + (hi - lo) * 0.5
    ts_of = {
        r.event_id: r.ts
        for r in ev.filter(F.col("event_type").isin("click", "purchase"))
        .select("event_id", "ts")
        .collect()
    }
    crossers = [
        r
        for r in out.filter(F.col("ref_event_id").isNotNull()).collect()
        if ts_of[r.event_id] >= cut and ts_of[r.ref_event_id] < cut
    ]
    assert crossers, "no enrichment crossed the batch boundary"
    # and unenriched clicks are exactly those with no earlier purchase
    assert out.filter(F.col("ref_event_id").isNull()).count() > 0


def test_asof_enrich_negative_value_floor_rounding():
    """Cents must floor like the oracle's floor(value*100+0.5):
    int() truncates toward zero and would emit -123 for -1.235
    where the oracle says -124 (ADVICE r5)."""
    import pandas as pd

    from data_wrangler_spark.streaming.stateful import _asof_enrich

    class FakeState:
        exists = False

        def update(self, v):
            self.saved = v

    pdf = pd.DataFrame(
        {
            "event_id": [1, 2],
            "ts": pd.to_datetime(["2021-01-01", "2021-01-02"]),
            "event_type": ["purchase", "click"],
            "value": [-1.235, 0.0],
        }
    )
    (out,) = list(_asof_enrich((7,), iter([pdf]), FakeState()))
    assert list(out["last_purchase_cents"]) == [-124]


def test_user_totals_negative_value_floor_rounding():
    """Same floor-vs-truncate parity rule for _update_user_totals'
    cents fold (ADVICE r6): a bare int64 cast truncates toward zero
    and would accumulate -123 for -1.235 where the q_stream_stateful
    oracle's floor(value*100+0.5) says -124."""
    import pandas as pd

    from data_wrangler_spark.streaming.stateful import _update_user_totals

    class FakeState:
        exists = False

        def update(self, v):
            self.saved = v
            self.exists = True

        @property
        def get(self):
            return self.saved

    st = FakeState()
    pdf = pd.DataFrame({"value": [-1.235, 2.005]})
    (out,) = list(_update_user_totals((7,), iter([pdf]), st))
    # -1.235*100+0.5 = -123.00000000000001 in binary → floor -124
    # (truncation would give -123); 2.005*100+0.5 = 201.0 → 201
    assert int(out["total_cents"][0]) == -124 + 201
    assert int(out["n_events"][0]) == 2


def test_stream_decontaminate_matches_batch_gate(spark, sf_dir):
    """The streamed quarantine set must equal the batch gate exactly:
    q_contamination_incremental's drop_doc ids, one row per doc (the
    stream-static semi join + stateful dedup never duplicates or
    misses a flagged doc across micro-batches)."""
    from data_wrangler_spark.registry import REGISTRY

    rows = REGISTRY["q_stream_decontaminate"].run(spark, sf_dir).collect()
    got = [r.doc_id for r in rows]
    assert len(got) == len(set(got)), "dedup emitted a doc twice"
    batch = {
        r.doc_id
        for r in REGISTRY["q_contamination_incremental"]
        .run(spark, sf_dir)
        .filter("drop_doc")
        .collect()
    }
    assert set(got) == batch
    assert batch, "fixture should contain eval-gram leakage"


def test_stream_dedup_ingest_matches_batch_pairs(spark, sf_dir):
    """The streamed dedup gate must flag exactly the pairs the batch
    q_dedup_incremental derives (same persisted index, same exact-
    Jaccard verify), each pair once — the stateful dedup never
    duplicates or misses across micro-batches."""
    from data_wrangler_spark.registry import REGISTRY

    rows = REGISTRY["q_stream_dedup_ingest"].run(spark, sf_dir).collect()
    got = [(r.doc_new, r.doc_old) for r in rows]
    assert len(got) == len(set(got)), "a pair was emitted twice"
    batch = {
        (r.doc_new, r.doc_old, r.jac_micro)
        for r in REGISTRY["q_dedup_incremental"].run(spark, sf_dir).collect()
    }
    assert {(r.doc_new, r.doc_old, r.jac_micro) for r in rows} == batch
    assert batch, "fixture should contain near-duplicate pairs"


def test_sig_expr_matches_batch(spark, sf_dir):
    """dedup.sig_expr (the stream-safe one-expression signature) must
    be value-identical to _minhash_signatures (the persist-barrier
    batch form) on every doc — including the empty-shingle NULL
    convention."""
    from data_wrangler_spark.functions.text import shingles_from_words, words
    from data_wrangler_spark.operators.dedup import (
        _minhash_signatures,
        sig_expr,
    )

    def signed(df):
        return (
            df.select("*", words("text").alias("w"))
            .select("*", shingles_from_words(F.col("w"), 3).alias("sh"))
            .select("*", sig_expr("sh").alias("sig"))
        )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    expr_form = signed(d)
    batch_form = _minhash_signatures(d)
    a = {r.doc_id: tuple(r.sig) for r in expr_form.collect()}
    b = {r.doc_id: tuple(r.sig) for r in batch_form.collect()}
    assert a == b
    # the empty-shingle NULL convention itself (no fixture doc may
    # exercise it — pin it on a synthetic row)
    empty = signed(spark.createDataFrame([("x",)], "text string"))
    assert all(v is None for v in empty.collect()[0].sig)


def test_stream_quarantine_equals_gate_union(spark, sf_dir):
    """The unified quarantine stream must emit exactly the union of
    the two standalone gates' flag sets, each (doc, reason) once."""
    from data_wrangler_spark.registry import REGISTRY

    rows = REGISTRY["q_stream_quarantine"].run(spark, sf_dir).collect()
    got = [(r.doc_id, r.reason) for r in rows]
    assert len(got) == len(set(got)), "a (doc, reason) emitted twice"
    dup = {
        (r.doc_new, "near_dup")
        for r in REGISTRY["q_stream_dedup_ingest"].run(spark, sf_dir).collect()
    }
    contam = {
        (r.doc_id, "contaminated")
        for r in REGISTRY["q_stream_decontaminate"].run(spark, sf_dir).collect()
    }
    assert set(got) == dup | contam
    assert dup and contam, "both gates should fire on the fixture"


def test_stream_quarantine_wide_trigger_same_output(
    spark, sf_dir, monkeypatch
):
    """VERDICT r16 #8: the trigger width is a module constant. The
    wide mode (both staged files in ONE micro-batch) must emit the
    identical (doc, reason) set as the default 2-batch mode — both
    gates are stateless per row and dropDuplicates is batch-boundary-
    blind. The default stays 1 so the restart/resume proof keeps its
    2-batch shape."""
    import data_wrangler_spark.streaming.windows as W
    from data_wrangler_spark.registry import REGISTRY

    base = {
        (r.doc_id, r.reason)
        for r in REGISTRY["q_stream_quarantine"].run(spark, sf_dir).collect()
    }
    monkeypatch.setattr(W, "STREAM_TRIGGER_FILES", 2)
    wide = {
        (r.doc_id, r.reason)
        for r in REGISTRY["q_stream_quarantine"].run(spark, sf_dir).collect()
    }
    assert wide == base and base


def test_ingest_gates_under_rocksdb_provider(spark, sf_dir):
    """The two ingest gates' dropDuplicates state must be provider-
    agnostic: identical emissions under the RocksDB store — the
    config the f10/f50 scale probes run them with."""
    from data_wrangler_spark.session import rocksdb_state_store

    base_pairs = {
        (r.doc_new, r.doc_old, r.jac_micro)
        for r in REGISTRY["q_stream_dedup_ingest"].run(spark, sf_dir).collect()
    }
    base_q = {
        (r.doc_id, r.reason)
        for r in REGISTRY["q_stream_quarantine"].run(spark, sf_dir).collect()
    }
    with rocksdb_state_store(spark):
        rocks_pairs = {
            (r.doc_new, r.doc_old, r.jac_micro)
            for r in REGISTRY["q_stream_dedup_ingest"]
            .run(spark, sf_dir)
            .collect()
        }
        rocks_q = {
            (r.doc_id, r.reason)
            for r in REGISTRY["q_stream_quarantine"].run(spark, sf_dir).collect()
        }
    assert rocks_pairs == base_pairs and base_pairs
    assert rocks_q == base_q and base_q


def test_quarantine_stream_resumes_from_durable_checkpoint(spark, sf_dir, tmp_path):
    """Restart/resume semantics (VERDICT r11 #2): production ingest
    restarts daily against a DURABLE checkpoint. Drive the quarantine
    gate plan twice over the same checkpoint + file sink under
    RocksDB: run 1 sees only day-1's file; day-2's file is added and
    run 2 resumes. Pins (a) run 2 reads ONLY the new file (source-log
    resume, nothing reprocessed), (b) nothing is re-emitted (file-sink
    exactly-once), and (c) the union of the two runs' emissions ≡ the
    single-run gate's full result."""
    import os
    import shutil
    import time

    from data_wrangler_spark.catalog import load_table
    from data_wrangler_spark.operators.dedup import INC_EXIST_PCT
    from data_wrangler_spark.session import rocksdb_state_store
    import data_wrangler_spark.streaming.windows as W

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    new = docs.filter(F.col("doc_id") % 10 >= INC_EXIST_PCT)
    day1 = new.filter(F.col("doc_id") % 2 == 0)
    day2 = new.filter(F.col("doc_id") % 2 == 1)
    n1, n2 = day1.count(), day2.count()

    src_dir = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    os.makedirs(src_dir)

    def stage(df, name, bump):
        tmp = str(tmp_path / f"_tmp_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(
            f for f in os.listdir(tmp) if f.endswith(".parquet")
        )
        dst = os.path.join(src_dir, name)
        shutil.move(os.path.join(tmp, part), dst)
        ts = time.time() + bump
        os.utime(dst, (ts, ts))

    def run_once():
        src = (
            spark.readStream.schema(new.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        q = (
            W.quarantine_gate_plan(spark, sf_dir, src)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sum(int(p["numInputRows"]) for p in q.recentProgress)

    with rocksdb_state_store(spark):
        stage(day1, "000.parquet", 0)
        read1 = run_once()
        emitted1 = {
            (r.doc_id, r.reason) for r in spark.read.parquet(out).collect()
        }
        stage(day2, "001.parquet", 1)
        read2 = run_once()
    final = [(r.doc_id, r.reason) for r in spark.read.parquet(out).collect()]

    # (a) the resumed run read only day-2's rows — the durable source
    # log skipped day-1's already-committed file. The gate plan is a
    # self-union of the source (near-dup branch + contamination
    # branch), so numInputRows counts each staged row twice.
    assert read1 == 2 * n1 and read2 == 2 * n2
    # (b) no re-emission across the restart: day-1's flags appear once
    assert len(final) == len(set(final))
    assert emitted1 <= set(final)
    # (c) two-invocation union ≡ the single-run gate
    single = {
        (r.doc_id, r.reason)
        for r in REGISTRY["q_stream_quarantine"].run(spark, sf_dir).collect()
    }
    assert set(final) == single and single


def test_quarantine_resume_op_idempotent_and_equals_single_run(spark, sf_dir):
    """q_stream_quarantine_resume (the registry form of the
    restart/resume demonstration) must return the same rows on a
    WARM second call (durable scratch, nothing re-streamed) and its
    accumulated sink must equal the single-run gate — the
    exactly-once-across-restarts claim the oracle also checks."""
    a = {
        (r.doc_id, r.reason)
        for r in REGISTRY["q_stream_quarantine_resume"].run(spark, sf_dir).collect()
    }
    b = {
        (r.doc_id, r.reason)
        for r in REGISTRY["q_stream_quarantine_resume"].run(spark, sf_dir).collect()
    }
    single = {
        (r.doc_id, r.reason)
        for r in REGISTRY["q_stream_quarantine"].run(spark, sf_dir).collect()
    }
    assert a == b == single and single


def test_stream_embed_gate_matches_batch_pairs(spark, sf_dir):
    """The streamed semantic gate must flag exactly the pairs the
    batch q_dedup_embed_incremental derives (same persisted index,
    same SEM_TAU cosine verify), each pair once across micro-batches."""
    from data_wrangler_spark.registry import REGISTRY

    rows = REGISTRY["q_stream_embed_gate"].run(spark, sf_dir).collect()
    got = [(r.vec_new, r.vec_old) for r in rows]
    assert len(got) == len(set(got)), "a pair was emitted twice"
    batch = {
        (r.vec_new, r.vec_old, r.cell, r.cos_sim)
        for r in REGISTRY["q_dedup_embed_incremental"].run(spark, sf_dir).collect()
    }
    assert {(r.vec_new, r.vec_old, r.cell, r.cos_sim) for r in rows} == batch
    assert batch, "fixture should contain semantic near-dup pairs"


def test_assign_cell_expr_matches_mat(spark, sf_dir):
    """assign_cell_expr (the stream-safe one-expression nearest-
    centroid assignment) must agree with kmeans_assign_mat (the Arrow
    batch form) on EVERY vector — quantizer, BIGINT distance, and
    (dist, cl) tiebreak all shared."""
    from data_wrangler_spark.operators.dedup import ensure_embed_inc_index
    from data_wrangler_spark.operators.embeddings_ext import (
        assign_cell_expr,
        kmeans_assign_mat,
        quantize_xs,
    )

    cl_ids, cmat, _ = ensure_embed_inc_index(spark, sf_dir)
    e = load_table(spark, sf_dir, "embeddings")
    v_arr = quantize_xs(e)
    mat = {
        r.vec_id: r.cl
        for r in kmeans_assign_mat(v_arr, cl_ids, cmat).collect()
    }
    expr = {
        r.vec_id: r.cell
        for r in v_arr.select(
            "vec_id", assign_cell_expr(cl_ids, cmat).alias("cell")
        ).collect()
    }
    assert expr == mat
    assert len(mat) > 0


def test_embed_gate_resumes_from_durable_checkpoint(spark, sf_dir, tmp_path):
    """Restart/resume for the VECTOR gate (VERDICT r12 #2), composed
    with the index append: run 1 streams day-1's vectors against the
    history-only index over a DURABLE checkpoint + file sink under
    RocksDB; between runs the index GROWS (day-1's append lands) and
    day-2's file arrives; run 2 resumes the same checkpoint against
    the grown index. Pins (a) each run reads exactly its day's rows
    (source-log resume — nothing reprocessed), (b) nothing is
    re-emitted across the restart, and (c) the two-run union ≡ the
    batch q_dedup_embed_2day derivation, including a day-2-vs-day-1
    catch through members that entered the index between the runs."""
    import os
    import shutil
    import time

    from data_wrangler_spark.catalog import load_table
    from data_wrangler_spark.operators.dedup import (
        INC2_DAY1,
        INC2_DAY2,
        _ensure_embed_2day_built,
        _read_embed_centroids,
    )
    from data_wrangler_spark.session import rocksdb_state_store
    import data_wrangler_spark.streaming.windows as W

    base = _ensure_embed_2day_built(spark, sf_dir)
    cl_ids, cmat = _read_embed_centroids(spark, f"{base}/centroids")
    mem_schema = "vec_id bigint, e array<double>, cell int"
    day0 = spark.read.schema(mem_schema).parquet(f"{base}/day0")
    day1 = spark.read.schema(mem_schema).parquet(f"{base}/day1")

    e_all = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    m10 = F.col("vec_id") % 10
    d1, d2 = e_all.filter(m10 == INC2_DAY1), e_all.filter(m10 == INC2_DAY2)
    n1, n2 = d1.count(), d2.count()

    src_dir = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    os.makedirs(src_dir)

    def stage(df, name, bump):
        tmp = str(tmp_path / f"_tmp_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        dst = os.path.join(src_dir, name)
        shutil.move(os.path.join(tmp, part), dst)
        ts = time.time() + bump
        os.utime(dst, (ts, ts))

    def run_once(members, day):
        src = (
            spark.readStream.schema(e_all.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        q = (
            W.embed_gate_resume_plan(src, members, cl_ids, cmat, day)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sum(int(p["numInputRows"]) for p in q.recentProgress)

    with rocksdb_state_store(spark):
        stage(d1, "000.parquet", 0)
        read1 = run_once(day0, 1)
        emitted1 = {
            (r.ingest_day, r.vec_new, r.vec_old)
            for r in spark.read.parquet(out).collect()
        }
        # the append lands between the runs; day-2's file arrives
        stage(d2, "001.parquet", 1)
        read2 = run_once(day0.unionByName(day1), 2)
    final = [
        (r.ingest_day, r.vec_new, r.vec_old, r.cell, r.cos_sim)
        for r in spark.read.parquet(out).collect()
    ]

    # (a) source-log resume: each run read exactly its day's rows
    assert read1 == n1 and read2 == n2
    # (b) exactly-once across the restart
    assert len(final) == len(set(final))
    assert emitted1 <= {(d, a, b) for d, a, b, _, _ in final}
    assert all(d == 1 for d, *_ in emitted1) and emitted1
    # (c) union ≡ the batch two-day derivation, catch included
    batch = {
        (r.ingest_day, r.vec_new, r.vec_old, r.cell, r.cos_sim)
        for r in REGISTRY["q_dedup_embed_2day"].run(spark, sf_dir).collect()
    }
    assert set(final) == batch and batch
    assert any(d == 2 and old % 10 == INC2_DAY1 for d, _, old, _, _ in final)


def test_embed_resume_op_idempotent_and_equals_batch(spark, sf_dir):
    """q_stream_embed_resume (the registry form) must return the same
    rows on a WARM second call (durable scratch, nothing re-streamed)
    and its accumulated sink must equal the batch q_dedup_embed_2day
    derivation — restart boundaries invisible in the emitted data."""
    a = {
        tuple(r)
        for r in REGISTRY["q_stream_embed_resume"].run(spark, sf_dir).collect()
    }
    b = {
        tuple(r)
        for r in REGISTRY["q_stream_embed_resume"].run(spark, sf_dir).collect()
    }
    batch = {
        tuple(r)
        for r in REGISTRY["q_dedup_embed_2day"].run(spark, sf_dir).collect()
    }
    assert a == b == batch and batch


def test_stream_pii_scrub_equals_batch_and_stateless(spark, sf_dir):
    """The streamed PII gate must emit exactly the batch op's per-doc
    rows (same factored expressions — any drift is a bug), and its
    micro-batch plan must be STATELESS: no state-store operator, no
    aggregation — the scrub is a pure row-local map, which is the
    scale property the docstring claims."""
    import data_wrangler_spark.streaming.windows as W

    rows = REGISTRY["q_stream_pii_scrub"].run(spark, sf_dir).collect()
    streamed = {tuple(r) for r in rows}
    batch = {
        tuple(r)
        for r in REGISTRY["q_pii_scrub"].run(spark, sf_dir).collect()
        if r.doc_id != -1
    }
    assert streamed == batch and streamed
    plan = W._LAST_STREAM_PLAN or ""
    assert "StateStore" not in plan and "Aggregate" not in plan


def test_stream_dsir_gate_matches_independent_rescore_and_stateless(spark, tmp_path):
    """The streamed DSIR gate must reproduce a THIRD, pure-Python
    implementation of the estimator (hashlib md5 buckets, math.log
    through numpy.float32 — independent of both engines), must drop
    sub-bigram docs, and its micro-batch plan must be STATELESS:
    scoring is one codegen projection, no state store, no aggregate,
    no join."""
    import hashlib
    import math

    import numpy as np

    import data_wrangler_spark.streaming.windows as W
    from data_wrangler_spark.operators.llm_extras import DSIR_B

    en = "the cat sat on the mat and the dog ran to the park"
    xx = "zork blarg quux fizz grok splat wibble beep"
    rows = (
        # history (doc_id % 10 < 8): both styles, en labeled target
        [(10 * i, en, "en", "s0", len(en)) for i in range(12)]
        + [(10 * i + 1, xx, "xx", "s1", len(xx)) for i in range(12)]
        # new docs (doc_id % 10 >= 8): content decides selection
        + [(18, en, "xx", "s1", len(en)), (28, xx, "en", "s0", len(xx)),
           (38, en + " " + xx, "en", "s0", 1), (48, "solo", "en", "s0", 4)]
    )
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    got = {
        r.doc_id: r
        for r in REGISTRY["q_stream_dsir_gate"].run(spark, str(tmp_path)).collect()
    }
    plan = W._LAST_STREAM_PLAN or ""
    assert "StateStore" not in plan and "Aggregate" not in plan

    def bigrams(text):
        w = text.strip().split()
        return [f"{a} {b}" for a, b in zip(w, w[1:])]

    def bkt(g):
        return int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % DSIR_B

    ct: dict[int, int] = {}
    cr: dict[int, int] = {}
    for doc_id, text, lang, _, _ in rows:
        if doc_id % 10 >= 8:
            continue
        tgt = lang == "en"
        for g in bigrams(text):
            d = ct if tgt else cr
            d[bkt(g)] = d.get(bkt(g), 0) + 1
    nt, nr = sum(ct.values()), sum(cr.values())

    def lw(b):
        num = (ct.get(b, 0) + 1) * (nr + DSIR_B)
        den = (cr.get(b, 0) + 1) * (nt + DSIR_B)
        return math.floor(float(np.float32(math.log(num / den))) * 1_000_000)

    expected = {}
    for doc_id, text, lang, _, _ in rows:
        if doc_id % 10 < 8:
            continue
        gs = bigrams(text)
        if not gs:
            continue  # sub-bigram docs drop (doc 48)
        s = sum(lw(bkt(g)) for g in gs)
        avg = math.floor(s / len(gs))
        expected[doc_id] = (lang == "en", len(gs), s, avg, avg > 0)
    assert set(got) == set(expected)
    for doc_id, (is_target, n, s, avg, sel) in expected.items():
        r = got[doc_id]
        assert (r.is_target, r.n_grams, r.sum_lw_micro, r.avg_lw_micro, r.selected) \
            == (is_target, n, s, avg, sel)
    # content decides: en-style doc labeled xx selected, reverse not
    assert got[18].selected and not got[28].selected


def _stream_leftovers(spark):
    """Session temp views/tables, and the per-call scratch dirs a
    stream run stages into or checkpoints under."""
    import os

    from data_wrangler_spark.streaming.windows import SCRATCH

    dirs = {}
    for d in ("stream_in", "ckpt"):
        p = os.path.join(SCRATCH, d)
        dirs[d] = set(os.listdir(p)) if os.path.isdir(p) else set()
    return {t.name for t in spark.catalog.listTables()}, dirs


def test_stream_calls_leave_no_views_inputs_or_checkpoints(spark, sf_dir):
    """A memory-sink op and a foreachBatch op keep nothing once they
    return: no temp view in the session, no staged input, no
    checkpoint. The memory sink's rows stay readable through the
    returned DataFrame after its view is gone."""
    before = _stream_leftovers(spark)
    out = REGISTRY["q_stream_dedup"].run(spark, sf_dir)
    REGISTRY["q_stream_sink_parquet"].run(spark, sf_dir).collect()
    assert _stream_leftovers(spark) == before
    n_events = load_table(spark, sf_dir, "events").count()
    assert out.count() == n_events


def test_stream_shard_clamp_lasts_only_for_start(spark, sf_dir, tmp_path):
    """With the session at 16 shuffle partitions, a stream records the
    clamped width (8) in its first offset-log entry and runs its
    micro-batches at 8, while the caller's session reads 16 again from
    start() on: during the micro-batches and after the run returns."""
    import json

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    widths = []

    def probe(batch_df, batch_id):
        widths.append((
            spark.conf.get("spark.sql.shuffle.partitions"),
            batch_df.sparkSession.conf.get("spark.sql.shuffle.partitions"),
        ))

    try:
        ev = load_table(spark, sf_dir, "events")
        _run_stream(
            "clamp_probe",
            [ev],
            lambda src: src.dropDuplicates(["event_id"]),
            durable_root=str(tmp_path),
        )
        assert spark.conf.get("spark.sql.shuffle.partitions") == "16"
        with open(tmp_path / "ckpt" / "offsets" / "0") as fh:
            meta = json.loads(fh.read().splitlines()[1])
        assert meta["conf"]["spark.sql.shuffle.partitions"] == "8"

        _run_stream("clamp_probe", [ev], foreach_batch=probe)
        assert widths and all(w == ("16", "8") for w in widths), widths
        assert spark.conf.get("spark.sql.shuffle.partitions") == "16"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_concurrent_stream_calls_match_serial(spark, sf_dir):
    """Two threads run the same stream op on one session at once; each
    gets the serial result (every call stages, checkpoints and sinks
    under its own names)."""
    import threading

    def rows():
        out = REGISTRY["q_stream_dedup"].run(spark, sf_dir)
        return sorted(tuple(r) for r in out.collect())

    serial = rows()
    got, errors = [None, None], []

    def work(i):
        try:
            got[i] = rows()
        except Exception as exc:  # surfaced by the assert below
            errors.append(exc)

    threads = [threading.Thread(target=work, args=(i,)) for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert got == [serial, serial]


def test_sql_builders_leave_caller_views_alone(spark, sf_dir):
    """The SQL-path builders pass their frames as spark.sql DataFrame
    arguments: the session's views are the same set afterwards, and a
    caller's own `lineitem` / `customer` / ... views still hold what
    the caller put there."""
    names = ("lineitem", "rh_customer", "customer", "orders")
    saved = {
        t.name: spark.table(t.name)
        for t in spark.catalog.listTables()
        if t.isTemporary and t.name in names
    }
    for n in names:
        spark.range(1).createOrReplaceTempView(n)
    try:
        before = {t.name for t in spark.catalog.listTables()}
        for q in (
            "q_agg_grouping_sets",
            "q_subquery_scalar",
            "q_recursive_hierarchy",
            "q_subquery_exists",
            "q_lateral_topn",
        ):
            REGISTRY[q].run(spark, sf_dir).collect()
        assert {t.name for t in spark.catalog.listTables()} == before
        assert all(spark.table(n).columns == ["id"] for n in names)
    finally:
        for n in names:
            spark.catalog.dropTempView(n)
        for n, df in saved.items():
            df.createOrReplaceTempView(n)


def test_sink_op_output_dirs_removed_on_release(engine):
    """The foreachBatch sink ops return frames that read a per-call
    output dir lazily, so the builder cannot delete it; the caller's
    release_cache() does. Three calls of each op leave the three
    output roots as they were (the ingest writer runs two of these
    ops on every cycle)."""
    import os

    from data_wrangler_spark.streaming.windows import SCRATCH

    def entries():
        out = {}
        for d in ("sink_out", "upsert_state", "rollup_state"):
            p = os.path.join(SCRATCH, d)
            out[d] = sorted(os.listdir(p)) if os.path.isdir(p) else []
        return out

    engine.release_cache()
    before = entries()
    for name in ("q_stream_sink_parquet", "q_stream_upsert_state", "q_stream_rollup"):
        for _ in range(3):
            assert engine.run(name).count() > 0
    engine.release_cache()
    assert entries() == before
