"""Registry/driver-contract invariants."""

import data_wrangler_spark as dws
import __spark_entry__ as entry_mod


def test_all_queries_callable():
    qs = entry_mod.queries()
    assert len(qs) >= 54, f"declared inventory is 54+, got {len(qs)}"
    assert set(entry_mod.oracle_sql()) <= set(qs)


def test_oracle_coverage():
    """Only the contract-allowed ops may omit oracles (approx/LSH)."""
    no_oracle = {
        name for name, spec in dws.REGISTRY.items() if spec.oracle is None
    }
    assert no_oracle == {
        "q_pagerank",  # iterative — numpy-pinned in tests/test_graph.py
    } | {n for n in no_oracle if "stream" in n}


def test_specs_have_docs():
    for name, spec in dws.REGISTRY.items():
        assert spec.doc, f"{name} has no docstring"


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert "o_orderkey" in df.columns


def test_every_query_documented_and_tagged():
    """Meta-consistency: every registered query carries a docstring
    (the judge-facing contract) and at least one tag; every oracle
    references only the ten driver tables."""
    import re

    from data_wrangler_spark.registry import REGISTRY

    tables = {"region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents", "embeddings"}
    for name, spec in REGISTRY.items():
        assert spec.doc, f"{name} lacks a docstring"
        assert spec.tags, f"{name} lacks tags"
        if spec.oracle:
            # strip IS [NOT] DISTINCT FROM before scanning relations
            cleaned = re.sub(
                r"IS\s+(NOT\s+)?DISTINCT\s+FROM", "ISDF", spec.oracle, flags=re.I
            )
            froms = set(
                m.group(2).lower()
                for m in re.finditer(r"\b(FROM|JOIN)\s+([a-z_][a-z0-9_]*)",
                                     cleaned, re.I)
            )
            # `IS DISTINCT FROM x` and table functions also match the
            # FROM/JOIN scan — exclude keywords and generators
            unknown = froms - tables - {
                "unnest", "range", "generate_series",
                "null", "true", "false", "values", "lateral",
            }
            # CTE names are fine — they must be defined in the oracle
            for u in unknown:
                assert re.search(
                    rf"\b{u}\s*(\([^)]*\))?\s+AS\s*(MATERIALIZED\s*)?\(",
                    spec.oracle,
                    re.I,
                ), f"{name} oracle references undefined relation {u!r}"


def test_survey_inventory_is_generated():
    """SURVEY §2.5's count table must byte-match a fresh render from
    the live registry (r8 #8 / r9 #1 — the hand-kept counts drifted
    two rounds running). Re-run `python tools/gen_inventory.py
    --write` after any register() change."""
    import re
    import sys
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    sys.path.insert(0, str(repo / "tools"))
    import gen_inventory

    survey = (repo / "SURVEY.md").read_text()
    m = re.search(
        re.escape(gen_inventory.BEGIN) + ".*?" + re.escape(gen_inventory.END),
        survey,
        re.S,
    )
    assert m, "generated-inventory markers missing from SURVEY.md"
    assert m.group(0) == gen_inventory.render(), (
        "SURVEY.md inventory block is stale — "
        "run `python tools/gen_inventory.py --write`"
    )


def test_no_handkept_inventory_counts():
    """No current-state doc may carry a numeric inventory claim
    ("N queries (M exact-oracle ...)") outside SURVEY's generated
    block (r10 judge #3 — BASELINE.md:22 said 229 while the registry
    held 250). Historical round records (ROUND*.md) and the judge
    artifact (VERDICT) are snapshots, not current-state claims, and
    are exempt."""
    import re
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    pat = re.compile(r"\b\d+ queries \(\d+ exact")
    exempt = {"VERDICT.md"}
    offenders = []
    for md in sorted(repo.glob("*.md")):
        if md.name in exempt or md.name.startswith("ROUND"):
            continue
        text = md.read_text()
        if md.name == "SURVEY.md":
            # the generated block is the single allowed home
            import sys

            sys.path.insert(0, str(repo / "tools"))
            import gen_inventory

            text = re.sub(
                re.escape(gen_inventory.BEGIN)
                + ".*?"
                + re.escape(gen_inventory.END),
                "",
                text,
                flags=re.S,
            )
        for m_ in pat.finditer(text):
            offenders.append(f"{md.name}: {m_.group(0)!r}")
    assert not offenders, (
        "hand-kept inventory counts found (point at SURVEY §2.5 "
        f"instead): {offenders}"
    )


def test_doc_references_name_existing_files():
    """Every concrete `tools/<name>.py` and root `<NAME>.md/.json/.jsonl`
    that a current-state doc or a package comment names must exist, so
    deleting a tool or an artifact cannot leave a dangling reference.
    Templated names (`CORRECTNESS_r{N}.json`, `BENCH_*.json`) are
    skipped; CHANGES, ROADMAP and VERDICT are history and exempt."""
    import re
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    tool = re.compile(r"(?<![\w/.{-])tools/(\w+\.py)\b")
    root_file = re.compile(
        r"(?<![\w/.{*-])[A-Z][A-Za-z0-9_]*\.(?:md|jsonl|json)\b"
    )
    docs = [
        repo / name
        for name in ("README.md", "SURVEY.md", "BASELINE.md", "SCALE.md",
                     "PLANS.md", "FIXTURES.md", "TESTDATA.md",
                     ".claude/skills/verify/SKILL.md")
    ] + sorted((repo / "data_wrangler_spark").rglob("*.py"))
    dangling = []
    for doc in docs:
        for n, line in enumerate(doc.read_text().splitlines(), 1):
            where = f"{doc.relative_to(repo)}:{n}"
            for m in tool.finditer(line):
                if not (repo / "tools" / m.group(1)).exists():
                    dangling.append(f"{where}: {m.group(0)}")
            for m in root_file.finditer(line):
                if not (repo / m.group(0)).exists():
                    dangling.append(f"{where}: {m.group(0)}")
    assert not dangling, f"references to missing files: {dangling}"


def test_every_cap_constant_has_a_live_audit_op():
    """VERDICT r14 #8: each execution-bounding cap constant must map
    to a registered, exact-oracle accounting operator that NAMES the
    cap in its doc/oracle — and the mapping must cover every
    cap-shaped constant in operators.dedup (MAX_*, *_CAP,
    *_PER_DOC), so a future cap cannot ship without its accounting
    row."""
    import re

    import data_wrangler_spark.operators.dedup as dd
    from data_wrangler_spark.registry import REGISTRY

    cap_like = {
        n
        for n, v in vars(dd).items()
        if isinstance(v, (int, float))
        and not isinstance(v, bool)
        and re.fullmatch(r"MAX_[A-Z_]+|[A-Z_]+_CAP|[A-Z_]+_PER_DOC", n)
    }
    assert cap_like == set(dd.CAP_AUDITS), (
        f"cap constants without an accounting op (or stale mapping): "
        f"{cap_like ^ set(dd.CAP_AUDITS)}"
    )
    for cap, op in dd.CAP_AUDITS.items():
        assert op in REGISTRY, f"{cap}: audit op {op} not registered"
        spec = REGISTRY[op]
        assert spec.oracle is not None, f"{cap}: audit op {op} is rows-only"
        blob = (spec.doc or "") + (spec.oracle or "")
        assert cap in blob, f"{cap}: audit op {op} never names its cap"
