"""Daily-ingest walkthrough: the LLM-data gates end to end.

    python examples/ingest_pipeline.py [sf_dir]

Tells the ingest story a data-curation team runs every day, entirely
through registered queries (each one exact-oracle checked by the
correctness harness):

1. corpus triage      — source overlap + threshold calibration
2. batch gates        — near-dup (persisted LSH index), contamination
                        (persisted eval-gram index, plus its Bloom
                        form with audited false positives), quality
                        (Gopher + C4 blocklist + the linear
                        classifier gate)
3. ingest over time   — the two-day append paths: text bands AND the
                        embedding cell index (each day-2 catches a
                        day-1 duplicate only the append can surface),
                        then the maintenance pair (compaction,
                        quantizer-drift report)
4. the same gates AS A STREAM — the unified quarantine topic plus the
                        semantic gate on the vector index
5. mixture            — sqrt-temperature sampling of the survivors
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_wrangler_spark.registry import REGISTRY
from data_wrangler_spark.session import get_spark


def run(name: str, spark, sf_dir: str, show: int = 4):
    df = REGISTRY[name].run(spark, sf_dir)
    rows = df.collect()
    print(f"\n── {name} ── {len(rows)} rows")
    for r in rows[:show]:
        print("  ", r)
    return rows


def main(spark=None, sf_dir: str | None = None) -> None:
    """CLI entry and test entry: pass (spark, sf_dir) to run inside an
    existing session (tests/test_examples.py); CLI creates and owns
    one. The example only stops a session it created itself."""
    if sf_dir is None:
        sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    owns_spark = spark is None
    if owns_spark:
        spark = get_spark("ingest_pipeline_example")

    print("=== 1. triage: is a cross-source dedup pass worth it? ===")
    ov = run("q_source_overlap", spark, sf_dir)
    # a single-source corpus yields zero pairs — report, don't crash
    worst = max(ov, key=lambda r: r.jac_est_micro, default=None)
    if worst is None:
        print("   no source pairs (single-source corpus) — skipping triage stat")
    else:
        print(
            f"   hottest pair {worst.sa}~{worst.sb}: est J="
            f"{worst.jac_est_micro / 1e6:.3f} (exact {worst.jac_micro / 1e6:.3f})"
        )
    run("q_dedup_threshold_curve", spark, sf_dir, show=7)

    print("\n=== 2. batch gates over today's arrivals ===")
    run("q_dedup_incremental", spark, sf_dir)
    run("q_contamination_incremental", spark, sf_dir, show=2)
    bloom = run("q_contamination_bloom", spark, sf_dir)
    fps = sum(1 for r in bloom if r.is_false_positive)
    print(f"   Bloom gate: {len(bloom)} flagged, {fps} audited false positives")
    run("q_quality_blocklist", spark, sf_dir, show=2)
    cls = run("q_quality_classifier", spark, sf_dir, show=2)
    print(f"   classifier gate keeps {sum(1 for r in cls if r.keep)}"
          f"/{len(cls)} docs")

    print("\n=== 3. the append paths: day-2 catches day-1's duplicate ===")
    rows = run("q_dedup_incremental_2day", spark, sf_dir)
    caught = [r for r in rows if r.ingest_day == 2 and r.doc_old % 10 == 2]
    print(f"   text-band append-catches (day-2 vs day-1): {len(caught)}")
    erows = run("q_dedup_embed_2day", spark, sf_dir)
    ecaught = [r for r in erows if r.ingest_day == 2 and r.vec_old % 10 == 2]
    print(f"   embedding-cell append-catches (day-2 vs day-1): {len(ecaught)}")

    print("\n=== 3b. nightly maintenance: compact + measure drift ===")
    comp = run("q_dedup_index_compact", spark, sf_dir)
    dropped = sum(r.n_buckets_reguarded for r in comp)
    print(f"   cross-append re-guard dropped {dropped} hot buckets "
          f"({sum(r.n_rows_before for r in comp)} -> "
          f"{sum(r.n_rows_after for r in comp)} band rows)")
    drift = run("q_embed_index_refresh", spark, sf_dir, show=3)
    moved = sum(r.n_moved for r in drift)
    total = sum(r.n_members for r in drift)
    print(f"   quantizer drift: {moved}/{total} members would move on "
          f"refresh — the re-train trigger a production index watches")

    print("\n=== 4. the gates as one stream: the quarantine topic ===")
    q = run("q_stream_quarantine", spark, sf_dir, show=6)
    by_reason: dict = {}
    for r in q:
        by_reason[r.reason] = by_reason.get(r.reason, 0) + 1
    print(f"   quarantined by reason: {by_reason}")
    eg = run("q_stream_embed_gate", spark, sf_dir, show=3)
    print(f"   semantic gate flagged {len(eg)} vector pairs in-stream")

    print("\n=== 5. mixture of the survivors ===")
    mix = run("q_mix_temperature_sample", spark, sf_dir, show=2)
    per_lang: dict = {}
    for r in mix:
        per_lang[r.lang] = per_lang.get(r.lang, 0) + 1
    print(f"   sampled per lang: {dict(sorted(per_lang.items()))}")

    if owns_spark:
        spark.stop()


if __name__ == "__main__":
    main()
