"""Full-registry physical-plan audit for the optimization round.

Builds every registered query's DataFrame at a small SF (planning
only — nothing is executed except where a builder itself runs jobs,
e.g. iterative fixpoints) and extracts the plan facts the
optimization guide says to check (§7.2): Exchange count,
Python-boundary nodes (BatchEvalPython / ArrowEvalPython /
MapInArrow / MapInPandas / FlatMapGroupsInPandas), join strategies,
cartesian products, and whether any parquet scan reads a full schema
(no pruning). Output: one JSON line per query to the given file, plus
a flagged summary on stdout.

Usage: python tools/plan_sweep.py OUT.jsonl [sf_dir]
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

PY_NODES = (
    "BatchEvalPython",
    "ArrowEvalPython",
    "MapInArrow",
    "MapInPandas",
    "FlatMapGroupsInPandas",
)
JOIN_NODES = (
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
)


def main() -> int:
    out_path = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"

    from data_wrangler_spark.session import get_spark
    from data_wrangler_spark import REGISTRY
    from data_wrangler_spark.functions.distributed import release_pinned

    spark = get_spark("plan_sweep")

    rows = []
    for name in sorted(REGISTRY):
        t0 = time.time()
        rec: dict = {"query": name}
        try:
            df = REGISTRY[name].run(spark, sf_dir)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            plan = buf.getvalue()
            # strip the verbose detail section: operator tree lines only,
            # so Exchange/join counts aren't double-counted by the
            # per-operator detail blocks
            tree = plan.split("\n\n", 1)[0]
            rec["exchanges"] = len(re.findall(r"\bExchange\b", tree))
            rec["py_nodes"] = {n: tree.count(n) for n in PY_NODES if n in tree}
            rec["joins"] = {n: tree.count(n) for n in JOIN_NODES if n in tree}
            rec["sorts"] = len(re.findall(r"\bSort\b", tree))
            rec["in_memory"] = tree.count("InMemoryTableScan")
            # every scan's pushed-filter presence
            scans = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
            rec["scans"] = len(scans)
            rec["scans_with_filters"] = sum(1 for s in scans if s.strip())
            rec["plan_sec"] = round(time.time() - t0, 2)
        except Exception as e:  # builder needs params / scratch dirs etc.
            rec["error"] = f"{type(e).__name__}: {e}"[:300]
        rows.append(rec)
        release_pinned()

    with open(out_path, "w") as fh:
        for rec in rows:
            fh.write(json.dumps(rec) + "\n")

    flagged = [
        r
        for r in rows
        if r.get("py_nodes")
        or r.get("joins", {}).get("CartesianProduct")
        or "error" in r
    ]
    print(f"swept {len(rows)} queries; {len(flagged)} flagged")
    for r in flagged:
        print(
            f"  {r['query']}: "
            + (r.get("error") or f"py={r.get('py_nodes')} joins={r.get('joins')}")
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
