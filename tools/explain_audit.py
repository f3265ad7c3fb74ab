"""Generate PLANS.md: physical-plan evidence for the scale claims.

For a representative query per family, extract the plan facts that
matter at 100 TB — pushed filters, read schemas (pruning), join
strategies, top-k operators — so a reviewer can check the engine's
plan shapes without running Spark.
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

AUDIT = [
    ("q_filter_eq", "predicate pushdown to parquet"),
    ("q_project_cols", "column pruning"),
    ("q_inner_join", "broadcast-hash join on filtered side"),
    ("q_join_multi", "star join: pruned fact scan + broadcast dims"),
    ("q_join_broadcast", "pinned broadcast dim join"),
    ("q_topk", "TakeOrderedAndProject (per-task heaps)"),
    ("q_agg_groupby", "partial+final hash aggregate"),
    ("q_window_running_sum", "single shuffle window"),
    ("q_dedup_exact", "digest-only shuffle"),
    ("q_sim_search", "broadcast query vector + top-k"),
    ("q_join_asof", "union + window as-of (one shuffle)"),
    ("q_sample_hash", "stateless hash sample: no exchange, pruned scan"),
    ("q_mix_quota", "quota mix: one window shuffle + rank filter"),
    ("q_pack_sequences", "packing: window + agg share one lang shuffle"),
    ("q_tfidf", "tf shuffle + broadcast df join (token key reused)"),
    ("q_inverted_index", "partial+final agg on token key"),
    ("q_resample", "hourly rollup: partial agg before one grid-key shuffle"),
    ("q_zscore", "broadcast per-type moments; fact scan never shuffles"),
    ("q_basket_pairs", "self-join co-partitioned on orderkey"),
    ("q_tpch_q5", "correlated dim paths: broadcast chain + pruned scans"),
    ("q_tpch_q6", "scan-filter-sum: all predicates pushed, no exchange"),
    ("q_tpch_q4", "EXISTS → left-semi hash join with residual predicate"),
    ("q_tpch_q13", "filter-in-ON outer join keeps zero-order customers"),
    ("q_tpch_q19", "cross-table OR: derived prefilters pushed to scans"),
    ("q_fuzzy_join_edit", "dictionary-first blocked fuzzy join"),
    ("q_fuzzy_topk_match", "broadcast query set + blocked edit-distance rank"),
    ("q_contamination", "partial-distinct gram set + left-semi containment"),
    ("q_skyline", "skyline: envelope window over distinct-x frame"),
    ("q_dedup_jaccard_prefix", "PPJoin: prefix-only candidate join + verify"),
    ("q_ewma", "sequential fold: one grouping shuffle, scalar state"),
    ("q_seasonal_anomaly", "broadcast seasonal profile; fact scan unshuffled"),
    ("q_tpch_q10", "top-20 via TakeOrderedAndProject, no global-sort window"),
    ("q_tpch_q3", "top-10 via TakeOrderedAndProject, no global-sort window"),
    ("q_window_ntile", "two-phase ntile: range exchange + pid-local window"),
    ("q_pareto", "two-phase decile over per-customer aggregates"),
    ("q_triangles", "adjacency intersection: map-side pair gen, no wedge rows"),
    ("q_sim_join", "block-pair GEMM: flat-array blocks, no driver matrix"),
    ("q_dedup_substring", "duplicated-gram semi-join + per-doc island window"),
    ("q_doc_lm_score", "LM scoring: bigram-keyed joins, ln on the aggregated table"),
    ("q_hard_negatives", "broadcast anchors + per-anchor partitioned rank"),
    ("q_tpch_q2", "derived partsupp: exchange-reused min-cost decorrelation"),
    ("q_tpch_q11", "HAVING over global scalar: 1-row broadcast, no collect"),
    ("q_tpch_q20", "nested semi-joins on the composite (part, supp) key"),
    ("q_tpch_q21", "EXISTS/NOT-EXISTS decorrelated to one per-order aggregate"),
    ("q_join_skewed", "salted join: hot key spread over 8 salt partitions"),
    ("q_join_range_bucketed", "range join as bin-key equi-join + residual filter"),
    ("q_bm25", "BM25: one scan + broadcast 1-row corpus stats, no corpus shuffle"),
    ("q_quantile_bins", "equal-frequency bins: range exchange + pid-local position"),
    ("q_stratified_sample", "per-stratum hash sample: scan-side predicate, no exchange"),
    ("q_cdc_diff", "snapshot CDC: one full-outer shuffle on a unique pk"),
    ("q_cooccurrence_pmi", "PMI: one bigram aggregate + broadcast marginals"),
    ("q_dedup_containment", "containment: anti-join df cap + one shingle-keyed join"),
    ("q_assoc_rules", "a-priori floor before fan-out; broadcast supports; top-N heap"),
    ("q_partitioned_write_prune", "partition-pruned scan: PartitionFilters, one subtree"),
    ("q_join_bucketed", "bucketed SMJ: zero exchange on the join key"),
    ("q_agg_skewed", "salted distinct: _shard in phase-1 grouping, 2-phase merge"),
    ("q_join_dpp", "dynamic partition pruning: runtime subquery filter on fact scan"),
    ("q_sketch_kmv", "bottom-K sketch: TakeOrderedAndProject + 1-row broadcasts"),
    ("q_rolling_distinct", "rolling WAU: pair reduction + bounded expand, one shuffle"),
    ("q_sample_weighted", "weighted sample: scan-side key, TakeOrderedAndProject"),
    ("q_dedup_incremental", "persisted band index probe: equi-join, no history self-pair"),
    ("q_sim_search_pq", "PQ: closure codebook mapInPandas + ADC heap + re-rank"),
    ("q_embed_pca", "Gram partials: per-task GEMM, 4096-row merge, no corpus shuffle"),
    ("q_pivot_dynamic", "dynamic pivot: domain discovery then known-domain plan"),
    ("q_setops_all", "multiset setops: count-comparison aggregation, one shuffle"),
    ("q_recursive_hierarchy", "WITH RECURSIVE: per-step frontier union"),
    ("q_tpch_q12_shipmode", "true Q12: derived logistics filters before the join"),
    ("q_tpch_q19_true", "true Q19: OR residual, single-table conjuncts pushed"),
    ("q_bitmap_distinct", "bitmap aggregates: fixed-size OR-mergeable distinct state"),
    ("q_join_null_skew", "null-key segregation: IsNotNull join + bypass union"),
    ("q_dq_checks", "expectation suite: anti-join FK checks, one row per check"),
    ("q_moving_median", "rolling median: day rollup + bounded expand, one shuffle"),
    ("q_dedup_embed", "label-blocked GEMM: flat-array sub-blocks, pairs never shuffle"),
    ("q_domain_cap", "per-source window + broadcast 1-row total, no global sort"),
    ("q_tokenizer_fertility", "scan-side token counts, |langs|-row partial agg"),
    ("q_select_kcenter", "K broadcast-sweep rounds, one running double per row"),
    ("q_skew_audit", "skew audit: partial-agg key counts, stats over |keys| rows"),
    ("q_join_interval", "interval overlap as day-bin equi-join + residual"),
    ("q_corpus_pipeline", "dedup+quality+cap+split fused in one plan, no stage tables"),
    ("q_dedup_prefix_keep", "prefix candidates -> components -> keeper, pairs never output"),
    ("q_ann_recall", "ANN recall: exact top-k + 3 index probes joined on query id"),
    ("q_dedup_temporal", "debounce dedup: one LAG window shuffle on the dedup key"),
    ("q_dedup_lsh_keep", "LSH buckets (capped) -> integer-Jaccard verify -> keeper"),
    ("q_dedup_keep_auto", "saturation router: guard aggregate -> exact PPJoin | capped LSH"),
    ("q_k_anonymity", "QI groupBy partial-aggregates map-side; re-agg on tiny frame"),
    ("q_contamination_incremental", "persisted eval-gram index; probe is one left-semi on grams"),
    ("q_mm_phash", "Arrow hash pass -> banded bucket join; payloads never shuffle"),
    ("q_mm_phash_keep", "phash banded pairs -> components -> keeper, pairs never output"),
    ("q_mm_phash_incremental", "new-batch signatures probe the persisted band index"),
    ("q_dedup_embed_incremental", "closure-shipped centroid assign; cell join vs persisted members"),
    ("q_dedup_incremental_2day", "append path: day-2 probes day0+day1 band union"),
    ("q_contamination_bloom", "packed long[4096] bitmap literal; getbit probe in codegen, no join"),
    ("q_window_skewed", "data-driven hot set (broadcast) -> chunked hot + plain cold"),
    ("q_window_skew_keys", "hot-key detection: count-by-key partial agg + 1-row total"),
    ("q_dedup_index_compact", "union of appends -> cross-append re-guard -> band stats"),
    ("q_sim_search_ivf", "integer-kmeans quantizer; broadcast probe cells; top-k heap"),
    ("q_sim_search_ivf_indexed", "persisted cells: PartitionFilters prune to nprobe dirs"),
    ("q_source_overlap", "K-row sketches per source; pair stage grid-sized"),
    ("q_quality_blocklist", "scan-side array filter, no exchange"),
    ("q_mix_temperature_sample", "count agg + broadcast quota + one lang window"),
    ("q_join_asof_tolerance", "union + one window shuffle; tolerance is scan-side"),
    ("q_dedup_threshold_curve", "one GEMM pass + broadcast tau grid + partial agg"),
    ("q_dedup_embed_2day", "frozen-centroid assign; day-2 probes the day0+day1 cell union"),
    ("q_embed_index_refresh", "two integer fits; drift aggregation moves <=K^2 grid rows"),
    ("q_quality_classifier", "packed weight-vector literal; scan-side score, no exchange"),
    ("q_ann_index_fresh", "broadcast query batch; appended files visible to the next serve"),
    ("q_dedup_spans", "span dedup: one exchange on the 16-byte span digest, min-struct keeper"),
    ("q_embed_index_rebuild", "manifest-resolved CURRENT index; day-2 probes the one rebuilt cell root"),
    ("q_pii_scrub", "regex count+redact as codegen string exprs; one scan, 5-long audit agg"),
    ("q_bpe_merges", "K=8 merge loop: freq-weighted dictionary rounds (localCheckpoint-truncated) + TakeOrdered pair heap"),
    ("q_dedup_semantic", "MAX_CELL sub-split: broadcast K-row arity table; pairing joins on (cell, sub)"),
    ("q_embed_cell_audit", "the cap's accounting row: one partial-agg count over the assignment"),
    ("q_quality_repetition", "dup fractions scan-side; top-2-gram = one (doc,gram) agg + per-doc window"),
    ("q_text_entropy", "26 replace-length pairs in codegen: histogram + entropy with no exchange"),
    ("q_dedup_prefix_audit", "PPJoin candidate accounting: two gram-keyed partial aggs + per-doc window"),
    ("q_dsir_select", "bounded bucket census + broadcast weight table; per-doc agg is the only data-sized shuffle"),
    ("q_dsir_select_exemplar", "same DSIR plan shape with the exemplar-slice target predicate"),
    ("q_dsir_resample", "scan-side Gumbel key; global top-K via TakeOrderedAndProject, rank on K rows"),
]

# Streaming operators: REGISTRY.run() returns the memory sink (its
# plan is just a scan), so the evidence is the executed MICRO-BATCH
# plan stashed by _run_stream — stream-static joins + state ops.
STREAM_AUDIT = [
    ("q_stream_decontaminate", "stream-static gram semi-join + per-doc dedup state"),
    ("q_stream_dedup_ingest", "stream-static band-index probe + verify + per-pair dedup state"),
    ("q_stream_quarantine", "self-union of both gates; per-(doc,reason) dedup state"),
    ("q_stream_embed_gate", "expression centroid assign + stream-static cell join + per-pair state"),
    ("q_stream_pii_scrub", "stateless row-local scrub: no join, no agg, no state store"),
    ("q_stream_dsir_gate", "stateless codegen scoring: weight-array literal in-plan, no join, no state store"),
]

# Durable-sink resume ops run their plan through the same _run_stream
# (same stash); their micro-batch evidence is the gate plan above plus
# the file-source/file-sink commit logs exercised by the resume tests.

# Plan tokens that differ between two runs of the same code: attribute
# ids, exchange plan ids, object hashes, stream run ids, the per-call
# suffix of checkpoint and staging dirs, and the checkout's location.
# They are rewritten so an unchanged engine regenerates PLANS.md byte
# for byte and a diff shows only plan-shape changes.
VOLATILE = [
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"@[0-9a-f]{5,}\b"), "@"),
    (re.compile(r"runId = [0-9a-f-]+"), "runId = "),
    (re.compile(r"/(ckpt|stream_in)/(\w+?)_[0-9a-f]{8}\b"), r"/\1/\2"),
    (re.compile(re.escape(REPO)), "<repo>"),
]


def stable(line: str) -> str:
    for pat, repl in VOLATILE:
        line = pat.sub(repl, line)
    return line


def main() -> None:
    from data_wrangler_spark.session import get_spark
    from data_wrangler_spark import REGISTRY

    spark = get_spark("explain_audit")
    sf = "/root/testdata/sf0.01"
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")

    out = [
        "# PLANS — physical-plan audit (generated by tools/explain_audit.py)",
        "",
        "Plan facts per family at sf0.01; regenerate after plan-shape",
        "changes. The full `.explain('formatted')` output is elided to",
        "the scale-relevant lines: scans (pushdown + read schema),",
        "joins, aggregates, sorts/limits, exchanges.",
        "",
    ]
    keep = re.compile(
        r"PushedFilters|PartitionFilters|ReadSchema|Join|HashAggregate|"
        r"TakeOrderedAndProject|Exchange|Sort |Window|Generate|CollectLimit|"
        r"GlobalLimit|Scan parquet|Bucketed"
    )
    # queries whose scale plan only shows with broadcast off (the
    # bucketed layout is exactly the no-shuffle SMJ regime)
    no_broadcast = {"q_join_bucketed"}
    for name, why in AUDIT:
        prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        if name in no_broadcast:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            df = REGISTRY[name].run(spark, sf)
            plan = df._jdf.queryExecution().explainString(mode)
        finally:
            if name in no_broadcast:
                spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)
        lines = [
            stable(ln.strip())[:160]
            for ln in plan.splitlines()
            if keep.search(ln) and not ln.strip().startswith("ReusedExchange")
        ]
        out.append(f"## {name} — {why}\n")
        out.append("```")
        out.extend(dict.fromkeys(lines))  # dedupe, keep order
        out.append("```\n")

    stream_keep = re.compile(
        keep.pattern
        + r"|StreamingDeduplicate|StateStore|StreamingRelation|MicroBatch"
    )
    for name, why in STREAM_AUDIT:
        REGISTRY[name].run(spark, sf)  # executes the bounded stream
        from data_wrangler_spark.streaming import windows as _sw

        plan = _sw._LAST_STREAM_PLAN or "(no micro-batch plan captured)"
        lines = [
            stable(ln.strip())[:160]
            for ln in plan.splitlines()
            if stream_keep.search(ln)
            and not ln.strip().startswith("ReusedExchange")
        ]
        out.append(f"## {name} — {why} (executed micro-batch plan)\n")
        out.append("```")
        out.extend(dict.fromkeys(lines))
        out.append("```\n")

    # Runtime partition-pruning proof (VERDICT r7 #6): when the DPP
    # probe artifact exists, render the measured file counts — plan
    # shape says the scan CAN prune, these metrics say it DID.
    import json as _json

    dpp = os.path.join(REPO, "DPP_F10.json")
    if os.path.exists(dpp):
        out.append("## Runtime pruning proof at f10 (tools/dpp_probe.py → DPP_F10.json)\n")
        out.append(
            "FileSourceScan's own SQL metrics after execution: `numFiles` is\n"
            "what the scan actually listed+read, `staticFilesNum` what it\n"
            "would have read before runtime (dynamic) pruning.\n"
        )
        out.append("```")
        with open(dpp) as fh:
            for line in fh:
                rec = _json.loads(line)
                disk = rec["disk_files_per_partition"]
                out.append(
                    f"{rec['query']}  (disk: "
                    + ", ".join(f"{k}:{v}" for k, v in disk.items())
                    + ")"
                )
                for s in rec["scans"]:
                    m = s["metrics"]
                    out.append(
                        f"  scan: numFiles={m['numFiles']}"
                        + (
                            f" staticFilesNum={m['staticFilesNum']}"
                            if "staticFilesNum" in m
                            else ""
                        )
                        + f" numPartitions={m['numPartitions']}"
                        + f" filesSize={m['filesSize']}"
                        + (
                            f" staticFilesSize={m['staticFilesSize']}"
                            if "staticFilesSize" in m
                            else ""
                        )
                        + f" pruningTime={m.get('pruningTime', 0)}ms"
                    )
        out.append("```\n")
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
