"""Property tests for the corpus-pipeline operators (pipeline_ops.py).

The DuckDB oracle harness (tools/verify_local.py) already pins exact
values; these tests pin the *semantic invariants* that must survive any
refactor — determinism of hash sampling, split exhaustiveness, quota
caps, packing arithmetic, index ordering, and connected-component
transitivity."""

import pytest

from data_wrangler_spark.registry import REGISTRY


def run(spark, sf_dir, name):
    return REGISTRY[name].run(spark, sf_dir)


def test_sample_hash_deterministic_and_subset(spark, sf_dir):
    a = {r.doc_id for r in run(spark, sf_dir, "q_sample_hash").collect()}
    b = {r.doc_id for r in run(spark, sf_dir, "q_sample_hash").collect()}
    assert a == b and len(a) > 0


def test_split_partitions_whole_corpus(spark, sf_dir):
    from data_wrangler_spark.catalog import load_table

    rows = run(spark, sf_dir, "q_split_train_test").collect()
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert len(rows) == n_docs
    by_split = {}
    for r in rows:
        by_split.setdefault(r.split, set()).add(r.doc_id)
    assert set(by_split) <= {"train", "val", "test"}
    # train dominates (80% of buckets) — loose bound, not a flaky ratio pin
    assert len(by_split["train"]) > len(rows) // 2


def test_mix_quota_caps_every_group(spark, sf_dir):
    from data_wrangler_spark.operators.pipeline_ops import MIX_CAP

    rows = run(spark, sf_dir, "q_mix_quota").collect()
    per_lang = {}
    for r in rows:
        per_lang[r.lang] = per_lang.get(r.lang, 0) + 1
        assert 1 <= r.rk <= MIX_CAP
    assert all(v <= MIX_CAP for v in per_lang.values())


def test_pack_bins_are_contiguous_and_sized(spark, sf_dir):
    from data_wrangler_spark.operators.pipeline_ops import PACK_BUDGET

    rows = run(spark, sf_dir, "q_pack_sequences").collect()
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append(r)
    for lang, bins in by_lang.items():
        bins.sort(key=lambda r: r.bin_id)
        # bin ids are dense from 0 and doc ranges don't interleave
        assert [b.bin_id for b in bins] == list(range(len(bins)))
        for prev, nxt in zip(bins, bins[1:]):
            assert prev.last_doc < nxt.first_doc
        # every bin except possibly the last is filled past the budget
        # (contiguous fill: a bin closes only once cum tokens cross it)
        for b in bins[:-1]:
            assert b.bin_tokens >= 1  # non-empty
        total = sum(b.bin_tokens for b in bins)
        assert total >= PACK_BUDGET * (len(bins) - 1)


def test_inverted_index_postings_sorted_capped(spark, sf_dir):
    from data_wrangler_spark.operators.pipeline_ops import (
        INDEX_MIN_DF,
        INDEX_POSTINGS,
    )

    for r in run(spark, sf_dir, "q_inverted_index").collect():
        assert r.doc_freq >= INDEX_MIN_DF
        # postings is a CSV of sorted doc ids (harness-safe form)
        postings = [int(v) for v in r.postings.split(",")]
        assert len(postings) == min(r.doc_freq, INDEX_POSTINGS)
        assert postings == sorted(postings)


def test_tfidf_one_row_per_doc_positive_score(spark, sf_dir):
    from data_wrangler_spark.catalog import load_table

    rows = run(spark, sf_dir, "q_tfidf").collect()
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert len(rows) == n_docs
    assert len({r.doc_id for r in rows}) == n_docs
    assert all(r.tf >= 1 and r.df >= 1 for r in rows)


def test_dedup_cluster_is_a_fixpoint(spark, sf_dir):
    """Components must be closed under the edge relation: both ends of
    every ≥-threshold jaccard pair share a component, the canonical id
    is the component minimum, and n_members is consistent."""
    from pyspark.sql import functions as F

    from data_wrangler_spark.operators.pipeline_ops import CLUSTER_THRESHOLD

    comp = run(spark, sf_dir, "q_dedup_cluster")
    label = {r.doc_id: r.component for r in comp.collect()}
    pairs = (
        REGISTRY["q_dedup_jaccard"]
        .run(spark, sf_dir)
        .filter(F.col("jaccard") >= CLUSTER_THRESHOLD)
        .collect()
    )
    assert pairs, "sf0.001 corpus should contain near-dup pairs"
    for p in pairs:
        assert label[p.doc_a] == label[p.doc_b]
    # canonical = min member id
    members = {}
    for d, c in label.items():
        members.setdefault(c, []).append(d)
    for c, docs in members.items():
        assert c == min(docs)


def test_contamination_bounds_and_slice(spark, sf_dir):
    """Containment is a fraction of each eval doc's own distinct
    grams: 0 <= n_matched <= n_grams, one row per src0 doc with at
    least 5 words, and the flag is exactly the threshold predicate."""
    from pyspark.sql import functions as F

    from data_wrangler_spark.catalog import load_table
    from data_wrangler_spark.operators.pipeline_ops import (
        CONTAM_EVAL_SOURCE,
        CONTAM_THRESHOLD,
    )

    rows = REGISTRY["q_contamination"].run(spark, sf_dir).collect()
    assert rows
    d = load_table(spark, sf_dir, "documents")
    n_eval = d.filter(
        (F.col("source") == CONTAM_EVAL_SOURCE)
        & (F.size(F.split(F.trim("text"), r"\s+")) >= 5)
    ).count()
    assert len(rows) == n_eval
    for r in rows:
        assert 0 <= r.n_matched <= r.n_grams
        assert abs(r.containment - r.n_matched / r.n_grams) < 1e-12
        assert r.contaminated == (r.containment >= CONTAM_THRESHOLD)


def test_mix_proportions_achieves_targets(spark, sf_dir):
    """The bottleneck language is taken whole; every other language's
    take is floor(m * w); achieved ratios are within 1/m of targets."""
    import math
    from collections import Counter

    from pyspark.sql import functions as F

    from data_wrangler_spark.catalog import load_table
    from data_wrangler_spark.operators.pipeline_ops import MIX_WEIGHTS

    avail = {
        r.lang: r.n
        for r in load_table(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    m = min(avail[l] / w for l, w in MIX_WEIGHTS.items())
    took = Counter(
        r.lang for r in run(spark, sf_dir, "q_mix_proportions").collect()
    )
    for lang, w in MIX_WEIGHTS.items():
        assert took[lang] == math.floor(m * w)
        assert took[lang] <= avail[lang]
    bottleneck = min(avail, key=lambda l: avail[l] / MIX_WEIGHTS[l])
    assert took[bottleneck] == avail[bottleneck]


def test_decontaminate_consistent_with_audit(spark, sf_dir):
    """Every eval 5-gram flagged as matched in the audit must have at
    least one train doc flagged for dropping, and drop flags must
    follow the matched-gram count."""
    rows = run(spark, sf_dir, "q_decontaminate").collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_eval_matched <= r.n_grams
        assert r.drop_doc == (r.n_eval_matched >= 1)
    audit = run(spark, sf_dir, "q_contamination").collect()
    # if any eval doc shows containment, some train doc must leak it
    if any(a.n_matched > 0 for a in audit):
        assert any(r.drop_doc for r in rows)


def test_weighted_sample_biases_toward_long_docs(spark, sf_dir):
    """Efraimidis–Spirakis with w = n_chars must overrepresent long
    docs: the sample's mean length materially exceeds the corpus
    mean; keys are valid (negative ln(u)/w) and the draw is
    deterministic across invocations."""
    from pyspark.sql import functions as F

    from data_wrangler_spark.catalog import load_table
    from data_wrangler_spark.registry import REGISTRY

    rows = REGISTRY["q_sample_weighted"].run(spark, sf_dir).collect()
    again = REGISTRY["q_sample_weighted"].run(spark, sf_dir).collect()
    assert [r.doc_id for r in rows] == [r.doc_id for r in again]
    assert all(r.es_key <= 0 for r in rows)

    corpus_mean = (
        load_table(spark, sf_dir, "documents")
        .agg(F.avg("n_chars"))
        .collect()[0][0]
    )
    sample_mean = sum(r.n_chars for r in rows) / len(rows)
    assert sample_mean > 1.05 * corpus_mean, (sample_mean, corpus_mean)


def test_shard_balance_partitions_whole_corpus(spark, sf_dir):
    """Shards partition the corpus exactly (counts sum to |docs|),
    every shard is populated at fixture scale, and the imbalance
    ratio is sane (hash sharding: < 2x at 500+ docs over 8 shards)."""
    from pyspark.sql import functions as F

    from data_wrangler_spark.catalog import load_table
    from data_wrangler_spark.operators.pipeline_ops import SHARD_WORLD_SIZE
    from data_wrangler_spark.registry import REGISTRY

    rows = REGISTRY["q_shard_balance"].run(spark, sf_dir).collect()
    assert {r.shard for r in rows} == set(range(SHARD_WORLD_SIZE))
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert sum(r.n_docs for r in rows) == n_docs
    imb = rows[0].imbalance_micro
    assert all(r.imbalance_micro == imb for r in rows)
    assert 1_000_000 <= imb < 2_000_000, imb


def test_domain_cap_enforced_and_unbiased(spark, sf_dir):
    """No source exceeds ceil(2% of corpus); ranks are 1..cap and the
    kept subset is hash-ordered (deterministic re-run)."""
    from pyspark.sql import functions as F

    from data_wrangler_spark.catalog import load_table
    from data_wrangler_spark.operators.pipeline_ops import DOMAIN_CAP_PCT
    from data_wrangler_spark.registry import REGISTRY

    n_total = load_table(spark, sf_dir, "documents").count()
    cap = (n_total * DOMAIN_CAP_PCT + 99) // 100
    out = REGISTRY["q_domain_cap"].run(spark, sf_dir)
    per = out.groupBy("source").agg(
        F.count("*").alias("n"), F.max("rk").alias("mx")
    )
    for r in per.collect():
        assert r.n <= cap and r.mx <= cap
    # deterministic: same rows on a re-run
    again = {tuple(r) for r in REGISTRY["q_domain_cap"].run(spark, sf_dir).collect()}
    assert {tuple(r) for r in out.collect()} == again


def test_tokenizer_fertility_sane(spark, sf_dir):
    """Fertility ≥ 1 (the BPE-ish regex never merges across
    whitespace, so tokens ≥ words), bytes ≥ chars (multi-byte
    scripts), and the micro ratios reproduce the integer division of
    the summed counts."""
    from data_wrangler_spark.registry import REGISTRY

    rows = REGISTRY["q_tokenizer_fertility"].run(spark, sf_dir).collect()
    assert len(rows) >= 3
    for r in rows:
        assert r.fertility_micro >= 1_000_000, r
        assert r.n_bytes >= r.n_chars
        assert r.chars_per_token_micro == r.n_chars * 1_000_000 // r.n_tokens


def test_corpus_pipeline_composition(spark, sf_dir):
    """The composed selection equals the intersection of its stages
    computed independently, with the cap applied to survivors."""
    from pyspark.sql import functions as F

    from data_wrangler_spark.operators.pipeline_ops import (
        DOMAIN_CAP_PCT,
        SPLIT_SEED,
    )
    from data_wrangler_spark.operators.dedup import _md5_long
    from data_wrangler_spark.registry import REGISTRY

    out = REGISTRY["q_corpus_pipeline"].run(spark, sf_dir)
    rows = out.collect()
    assert rows
    keepers = {r.doc_id for r in REGISTRY["q_dedup_exact"].run(spark, sf_dir).collect()}
    quality = {
        r.doc_id
        for r in REGISTRY["q_quality_gopher"].run(spark, sf_dir).filter("passes").collect()
    }
    surv = keepers & quality
    cap = (len(surv) * DOMAIN_CAP_PCT + 99) // 100
    ids = {r.doc_id for r in rows}
    assert ids <= surv
    per_source = {}
    for r in rows:
        per_source[r.source] = per_source.get(r.source, 0) + 1
        assert r.cap_rank <= cap
    assert all(n <= cap for n in per_source.values())
    # split predicate respected
    import pyspark.sql.functions as _F

    split = (
        out.withColumn(
            "h", _md5_long(_F.col("doc_id").cast("string"), SPLIT_SEED) % 10
        )
        .filter(_F.col("h") >= 8)
        .count()
    )
    assert split == 0


def test_dedup_prefix_keep_fusion_equals_composition(spark, sf_dir):
    """The fused op's components must equal min-label components built
    from q_dedup_jaccard_prefix's own verified pair set (same 0.6
    threshold) — fusion changes the plan, not the math. Keeper flags:
    exactly one keep per component, and it is the (n_chars desc,
    doc_id) argmax."""
    from data_wrangler_spark.operators.pipeline_ops import (
        min_label_components,
    )
    from pyspark.sql import functions as F

    fused = {
        r.doc_id: r for r in run(spark, sf_dir, "q_dedup_prefix_keep").collect()
    }
    pairs = run(spark, sf_dir, "q_dedup_jaccard_prefix").select(
        "doc_a", "doc_b"
    )
    from data_wrangler_spark.catalog import load_table

    nodes = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("node")
    )
    comp = {
        r.node: r.label
        for r in min_label_components(spark, nodes, pairs).collect()
    }
    assert set(comp) == set(fused)
    assert all(fused[d].component == c for d, c in comp.items())

    by_comp = {}
    for r in fused.values():
        by_comp.setdefault(r.component, []).append(r)
    for members in by_comp.values():
        keepers = [m for m in members if m.keep]
        assert len(keepers) == 1
        best = min(members, key=lambda m: (-m.n_chars, m.doc_id))
        assert keepers[0].doc_id == best.doc_id


def test_lsh_keep_refines_prefix_keep(spark, sf_dir):
    """q_dedup_lsh_keep's pair set is the LSH-candidate SUBSET of the
    lossless prefix pair set at the same exact-Jaccard threshold
    (3/5), so its components must REFINE the prefix components: every
    LSH component sits inside exactly one prefix component, and the
    keeper count can only grow (finer clusters → more keepers).
    Exactly one keeper per LSH component, the (n_chars desc, doc_id)
    argmax."""
    lsh = {
        r.doc_id: r for r in run(spark, sf_dir, "q_dedup_lsh_keep").collect()
    }
    pre = {
        r.doc_id: r
        for r in run(spark, sf_dir, "q_dedup_prefix_keep").collect()
    }
    assert set(lsh) == set(pre)  # one row per doc in both

    comp_map = {}
    for doc_id, r in lsh.items():
        prev = comp_map.setdefault(r.component, pre[doc_id].component)
        assert prev == pre[doc_id].component  # refinement

    assert sum(r.keep for r in lsh.values()) >= sum(
        r.keep for r in pre.values()
    )
    by_comp = {}
    for r in lsh.values():
        by_comp.setdefault(r.component, []).append(r)
    for members in by_comp.values():
        keeps = [r for r in members if r.keep]
        assert len(keeps) == 1
        best = max(members, key=lambda r: (r.n_chars, -r.doc_id))
        assert keeps[0].doc_id == best.doc_id


def test_corpus_pipeline_incremental_batch_only_and_cap(spark, sf_dir):
    """The incremental pipeline's output must be (a) new-batch docs
    only, (b) disjoint from the dup-of-history set the persisted
    index reports, (c) quality-passing in-batch exact keepers, (d)
    decontaminated (stage 2.5, r10): no eval-source docs, no docs
    sharing a 5-gram with the eval slice, and (e) capped:
    prior(source) + rank never exceeds the ceiling over the
    POST-INGEST survivor population; the split predicate holds."""
    from pyspark.sql import functions as F

    from data_wrangler_spark.operators.dedup import INC_EXIST_PCT, _md5_long
    from data_wrangler_spark.operators.pipeline_ops import (
        CONTAM_EVAL_SOURCE,
        DOMAIN_CAP_PCT,
        SPLIT_SEED,
    )
    from data_wrangler_spark.registry import REGISTRY

    out = REGISTRY["q_corpus_pipeline_incremental"].run(spark, sf_dir)
    rows = out.collect()
    assert rows
    dup_new = {
        r.doc_new
        for r in REGISTRY["q_dedup_incremental"].run(spark, sf_dir).collect()
    }
    quality = {
        r.doc_id
        for r in REGISTRY["q_quality_gopher"]
        .run(spark, sf_dir)
        .filter("passes")
        .collect()
    }
    ids = {r.doc_id for r in rows}
    assert all(i % 10 >= INC_EXIST_PCT for i in ids)  # batch only
    assert not (ids & dup_new)  # history dups dropped
    assert ids <= quality

    # stage 2.5: no eval-source docs, no eval-gram leakers
    from data_wrangler_spark.catalog import load_table

    d = load_table(spark, sf_dir, "documents")
    eval_src = {
        r.doc_id
        for r in d.filter(F.col("source") == CONTAM_EVAL_SOURCE)
        .select("doc_id")
        .collect()
    }
    leaky = {
        r.doc_id
        for r in REGISTRY["q_decontaminate"]
        .run(spark, sf_dir)
        .filter("drop_doc")
        .collect()
    }
    assert not (ids & eval_src)
    assert not (ids & leaky)
    assert leaky, "fixture should contain eval-gram leakage"

    # smoke that rerun is deterministic
    prior_df = REGISTRY["q_corpus_pipeline_incremental"].run(spark, sf_dir)
    assert {r.doc_id for r in prior_df.collect()} == ids

    # cap: recompute BOTH survivor populations from the operator's
    # own definition (ADVICE r9 #3 — the old assertions were
    # tautological) and pin max(cum_rank) against the real ceiling
    # ceil(DOMAIN_CAP_PCT% of (n_exist + n_new)).
    from pyspark.sql import Window

    keeper_w = Window.partitionBy(
        F.md5(F.lower(F.trim("text")))
    ).orderBy("doc_id")
    exist_keepers = {
        r.doc_id
        for r in d.filter(F.col("doc_id") % 10 < INC_EXIST_PCT)
        .withColumn("rn", F.row_number().over(keeper_w))
        .filter("rn = 1")
        .select("doc_id")
        .collect()
    }
    new_keepers = {
        r.doc_id
        for r in d.filter(F.col("doc_id") % 10 >= INC_EXIST_PCT)
        .withColumn("rn", F.row_number().over(keeper_w))
        .filter("rn = 1")
        .select("doc_id")
        .collect()
    }
    n_exist = len((exist_keepers & quality) - eval_src - leaky)
    n_new = len((new_keepers & quality) - dup_new - eval_src - leaky)
    ceiling = ((n_exist + n_new) * DOMAIN_CAP_PCT + 99) // 100
    max_rank = max(r.cum_rank for r in rows)
    assert max_rank <= ceiling
    # and the ceiling is actually binding at this fixture (the test
    # would silently stop pinning the cap if the fixture shrank)
    assert ceiling < n_new

    split_viol = (
        out.withColumn(
            "h", _md5_long(F.col("doc_id").cast("string"), SPLIT_SEED) % 10
        )
        .filter(F.col("h") >= 8)
        .count()
    )
    assert split_viol == 0


def test_contamination_incremental_matches_batch_decontaminate(spark, sf_dir):
    """The persisted-index probe must agree with the batch operator:
    q_contamination_incremental's rows are exactly q_decontaminate's
    rows restricted to the new batch (same n_grams, n_eval_matched,
    drop_doc — proving the stored eval-gram index is lossless), and a
    second run (index now warm) returns identical results."""
    from data_wrangler_spark.operators.dedup import INC_EXIST_PCT
    from data_wrangler_spark.registry import REGISTRY

    inc = {
        r.doc_id: (r.n_grams, r.n_eval_matched, r.drop_doc)
        for r in REGISTRY["q_contamination_incremental"]
        .run(spark, sf_dir)
        .collect()
    }
    batch = {
        r.doc_id: (r.n_grams, r.n_eval_matched, r.drop_doc)
        for r in REGISTRY["q_decontaminate"].run(spark, sf_dir).collect()
        if r.doc_id % 10 >= INC_EXIST_PCT
    }
    assert inc == batch
    assert any(v[2] for v in inc.values()), "fixture should leak"
    rerun = {
        r.doc_id: (r.n_grams, r.n_eval_matched, r.drop_doc)
        for r in REGISTRY["q_contamination_incremental"]
        .run(spark, sf_dir)
        .collect()
    }
    assert rerun == inc


def test_contamination_bloom_is_superset_with_audited_fps(spark, sf_dir):
    """The Bloom gate can only ADD false positives, never miss: its
    flag set must contain every exact-gate drop, each true flag must
    carry its exact gram count, and each extra flag must be marked
    is_false_positive."""
    from data_wrangler_spark.registry import REGISTRY

    bloom = {
        r.doc_id: r
        for r in REGISTRY["q_contamination_bloom"].run(spark, sf_dir).collect()
    }
    exact = {
        r.doc_id: r.n_eval_matched
        for r in REGISTRY["q_contamination_incremental"]
        .run(spark, sf_dir)
        .filter("drop_doc")
        .collect()
    }
    assert set(exact) <= set(bloom), "Bloom gate missed an exact drop"
    assert exact, "fixture should contain leakage in the new batch"
    for doc_id, r in bloom.items():
        assert r.n_maybe_grams >= r.n_exact_grams
        assert r.is_false_positive == (r.n_exact_grams == 0)
        assert (doc_id in exact) == (not r.is_false_positive)


def test_quality_classifier_matches_pure_python_model(spark, sf_dir):
    """The packed-weights classifier must equal an INDEPENDENT pure-
    Python scorer (hashlib md5, no Spark expressions) on every doc —
    the same shared-formulation-bug closure the Bloom property pin
    gives q_contamination_bloom — and both keep classes must appear."""
    import hashlib
    import re

    from data_wrangler_spark.catalog import load_table

    from data_wrangler_spark.operators.text_analysis import (
        CLS_BUCKETS,
        _cls_weight,
    )
    from data_wrangler_spark.registry import REGISTRY

    def py_score(text: str) -> tuple[int, int]:
        # Mirror the engine EXACTLY: split(trim(text), '\s+') yields
        # ONE empty-string token for empty/whitespace-only text (so
        # n_tokens=1 and md5('')'s weight is counted) — str.split()
        # would silently drop it and diverge if the fixture ever
        # gains such a document (ADVICE r12).
        toks = re.split(r"\s+", text.strip().lower())
        s = 0
        for t in toks:
            h = int(hashlib.md5(t.encode()).hexdigest()[:15], 16) % CLS_BUCKETS
            s += _cls_weight(h)
        return len(toks), s

    rows = REGISTRY["q_quality_classifier"].run(spark, sf_dir).collect()
    docs = {
        r.doc_id: r.text
        for r in load_table(spark, sf_dir, "documents").collect()
    }
    assert len(rows) == len(docs)
    kept = 0
    for r in rows:
        if docs[r.doc_id] is None:
            # NULL text never reaches the scorer's arithmetic; the
            # engine's behavior on it is pinned by the oracle, not
            # this independent model
            continue
        n, s = py_score(docs[r.doc_id])
        assert (r.n_tokens, r.score_micro) == (n, s), f"doc {r.doc_id}"
        assert r.keep == (s >= 0)
        kept += int(r.keep)
    assert 0 < kept < len(rows), "degenerate keep split"


def test_dedup_spans_keeper_discipline(spark, sf_dir):
    """Global span dedup must (a) cover every document exactly once,
    (b) drop a nonzero number of spans on the fixture (the repeated-
    boilerplate corpus), (c) never drop more spans than a doc has,
    and (d) the corpus-wide keeper invariant: total spans - total
    drops = number of DISTINCT span digests (first occurrences are
    kept exactly once each)."""
    from pyspark.sql import functions as F

    from data_wrangler_spark.catalog import load_table
    from data_wrangler_spark.functions.text import words
    from data_wrangler_spark.operators.dedup import SPAN_W
    from data_wrangler_spark.registry import REGISTRY

    rows = REGISTRY["q_dedup_spans"].run(spark, sf_dir).collect()
    d = load_table(spark, sf_dir, "documents")
    assert len(rows) == d.count()
    assert sum(r.n_dropped for r in rows) > 0, "fixture should drop spans"
    for r in rows:
        assert 0 <= r.n_dropped <= r.n_spans
        if r.n_spans == 0:
            assert r.keep_micro == 1_000_000
    t = d.select("doc_id", words("text").alias("w"))
    distinct_spans = (
        t.select(
            F.explode(
                F.expr(
                    f"CASE WHEN size(w) div {SPAN_W} < 1 "
                    f"THEN array() "
                    f"ELSE transform(sequence(1, size(w) div {SPAN_W}), "
                    f"i -> concat_ws(' ', slice(w, (i-1)*{SPAN_W}+1, {SPAN_W}))) END"
                )
            ).alias("s")
        )
        .distinct()
        .count()
    )
    assert (
        sum(r.n_spans for r in rows) - sum(r.n_dropped for r in rows)
        == distinct_spans
    )


def test_pii_scrub_every_class_planted_and_python_parity(spark, sf_dir):
    """q_pii_scrub must (a) be non-vacuous in EVERY class (the audit
    row's per-class totals are all positive — the deterministic
    planting guarantees it at any factor), (b) have a consistent
    audit row (totals == sums over per-doc rows), and (c) agree with
    an INDEPENDENT pure-Python `re` scan on a planted corpus
    covering each class plus the overlap traps (separator PAN vs
    phone, bare 16-digit PAN, dotted phone vs IPv4, token ordering)."""
    import re

    from pyspark.sql import functions as F

    from data_wrangler_spark.operators.text_analysis import (
        PII_EMAIL_RE,
        PII_IP_RE,
        PII_PAN_RE,
        PII_PHONE_RE,
    )
    from data_wrangler_spark.registry import REGISTRY

    rows = REGISTRY["q_pii_scrub"].run(spark, sf_dir).collect()
    audit = [r for r in rows if r.doc_id == -1]
    perdoc = [r for r in rows if r.doc_id != -1]
    assert len(audit) == 1
    a = audit[0]
    for cls in ("n_email", "n_phone", "n_ip", "n_pan"):
        assert getattr(a, cls) > 0, f"class {cls} vacuous"
        assert getattr(a, cls) == sum(getattr(r, cls) for r in perdoc)
    assert all(r.n_pii == r.n_email + r.n_phone + r.n_ip + r.n_pan
               for r in perdoc)
    # redaction removed every detected span: re-scanning the redacted
    # text finds nothing (tokens contain no digits or '@')
    for r in perdoc[:50]:
        for pat in (PII_EMAIL_RE, PII_PAN_RE, PII_PHONE_RE, PII_IP_RE):
            assert not re.search(pat, r.redacted), (r.doc_id, pat)

    # (c) independent pure-Python parity on a hand-planted corpus
    corpus = [
        (1, "mail bob.smith+x@sub.example.com and a@b.io twice"),
        (2, "call 555-123-4567 or 555.987.6543 now"),
        (3, "card 4111-1111-1111-0042 and 1234567890123456 raw"),
        (4, "host 10.0.255.7 peer 192.168.1.200"),
        (5, "mix u9@ex.org 555-000-1111 4111 1111 1111 9999 1.2.3.4"),
        (6, "clean text with numbers 123 45678 and a.b words"),
        (7, "edge [email protected] then 999.888.777.666"),
    ]
    df = spark.createDataFrame(corpus, "doc_id bigint, pii_text string")
    got = {
        r.doc_id: r
        for r in df.select(
            "doc_id",
            F.regexp_count("pii_text", F.lit(PII_EMAIL_RE)).alias("e"),
            F.regexp_count("pii_text", F.lit(PII_PHONE_RE)).alias("p"),
            F.regexp_count("pii_text", F.lit(PII_IP_RE)).alias("i"),
            F.regexp_count("pii_text", F.lit(PII_PAN_RE)).alias("c"),
            F.regexp_replace(
                F.regexp_replace(
                    F.regexp_replace(
                        F.regexp_replace(
                            "pii_text", PII_EMAIL_RE, "<EMAIL>"
                        ),
                        PII_PAN_RE,
                        "<PAN>",
                    ),
                    PII_PHONE_RE,
                    "<PHONE>",
                ),
                PII_IP_RE,
                "<IP>",
            ).alias("red"),
        ).collect()
    }
    for doc_id, text in corpus:
        exp = {
            "e": len(re.findall(PII_EMAIL_RE, text)),
            "p": len(re.findall(PII_PHONE_RE, text)),
            "i": len(re.findall(PII_IP_RE, text)),
            "c": len(re.findall(PII_PAN_RE, text)),
        }
        r = got[doc_id]
        assert (r.e, r.p, r.i, r.c) == tuple(exp.values()), (doc_id, text)
        red = text
        for pat, tok in (
            (PII_EMAIL_RE, "<EMAIL>"),
            (PII_PAN_RE, "<PAN>"),
            (PII_PHONE_RE, "<PHONE>"),
            (PII_IP_RE, "<IP>"),
        ):
            red = re.sub(pat, tok, red)
        assert r.red == red, (doc_id, r.red, red)
    # the traps actually trip: doc 2 has a dotted phone not an IP,
    # doc 3 a bare PAN, doc 5 all four classes at once
    assert (got[2].p, got[2].i) == (2, 0)
    assert got[3].c == 2
    assert (got[5].e, got[5].p, got[5].i, got[5].c) == (1, 1, 1, 1)


def test_star_contraction_on_long_chain(spark, monkeypatch):
    """The r15 star-contraction rewrite (VERDICT r14 #5): a 400-node
    CHAIN — the adversarial shape for the old O(diameter) min-label
    loop, which needed 399 rounds (and failed loudly past its 64-round
    cap) — converges in ~log2(n) alternations with every node labeled
    by the component minimum. Also pins multi-component + isolated-
    node behavior. STAR_LOCAL_MAX = 0 forces the
    DISTRIBUTED loop (r16: small edge sets take the driver-local
    union-find fast path, pinned equal below)."""
    import math

    import data_wrangler_spark.operators.pipeline_ops as po
    from data_wrangler_spark.operators.pipeline_ops import (
        min_label_components,
    )
    from pyspark.sql import functions as F

    monkeypatch.setattr(po, "STAR_LOCAL_MAX", 0)

    n = 400
    # chain 1-2-...-400, a separate triangle {900,901,902}, and the
    # isolated node 999
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, n)]
        + [(900, 901), (901, 902), (900, 902)],
        "doc_a long, doc_b long",
    )
    nodes = spark.createDataFrame(
        [(i,) for i in range(1, n + 1)] + [(900,), (901,), (902,), (999,)],
        "node long",
    )
    labels = {
        r.node: r.label
        for r in min_label_components(spark, nodes, pairs).collect()
    }
    assert all(labels[i] == 1 for i in range(1, n + 1))
    assert labels[900] == labels[901] == labels[902] == 900
    assert labels[999] == 999
    # O(log n), not O(diameter): log2(400) ≈ 8.6; allow slack for the
    # final no-op detection round, but anything near the old loop's
    # linear behavior fails
    assert po.LAST_STAR_ROUNDS <= int(math.log2(n)) + 4, po.LAST_STAR_ROUNDS
    assert po.LAST_STAR_ROUNDS >= 1  # the distributed loop actually ran

    # r16 fast-path parity pin (the KM_FIT_LOCAL_MAX pattern): the
    # driver-local union-find must reach the IDENTICAL fixpoint the
    # distributed star contraction just produced — same labels on the
    # same adversarial fixture (chain + triangle + isolated node)
    monkeypatch.setattr(po, "STAR_LOCAL_MAX", 1 << 20)
    local_labels = {
        r.node: r.label
        for r in min_label_components(spark, nodes, pairs).collect()
    }
    assert po.LAST_STAR_ROUNDS == 0  # the fast path engaged
    assert local_labels == labels
