"""Runtime proof that partition pruning reads ~1/|partitions| of files.

PLANS.md pins the *plan shape* for q_partitioned_write_prune
(PartitionFilters) and q_join_dpp (dynamicpruningexpression); this
probe pins the *runtime effect* at a chosen fixture: it executes both
queries and reads the FileSourceScan node's own SQL metrics —
`numFiles` / `filesSize` (what the scan actually listed and read) and,
for the DPP scan, `staticFilesNum` / `staticFilesSize` (what it WOULD
have read before runtime pruning) — then compares against the physical
file counts on disk per partition directory.

AQE is disabled for the probe session only so the executed plan is the
plain tree whose leaf metrics we read; DPP itself is independent of
AQE (spark.sql.optimizer.dynamicPartitionPruning.enabled defaults on).

Usage: python tools/dpp_probe.py [sf_dir]   (default .scratch/sfprobe/f10)
The default is the ×10 fixture DPP_F10.json was measured on; no tool
in the repo derives it, so pass any generated sf dir instead.
Prints one JSON line per query for SCALE.md / PLANS.md.
"""

from __future__ import annotations

import glob
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _scan_leaf_metrics(df) -> list[dict]:
    """Collect name→value for every file-scan leaf of the EXECUTED plan.

    SQLMetrics are AccumulatorV2s: after the collect() the driver-side
    .value() holds the merged total (numFiles itself is set driver-side
    at file-listing time). Traversal via collectLeaves() — parquet
    scans are always leaves.
    """
    plan = df._jdf.queryExecution().executedPlan()
    # a plan with exchanges/subqueries executes as AdaptiveSparkPlanExec
    # even when spark.sql.adaptive.enabled=false was set post-session in
    # some paths; it is CHILD-LESS (wraps its input as a field), so
    # collectLeaves() can't pierce it — unwrap to the final plan first
    if "AdaptiveSparkPlan" in plan.getClass().getName():
        plan = plan.executedPlan()
    leaves = plan.collectLeaves()
    out = []
    for i in range(leaves.size()):
        node = leaves.apply(i)
        if "FileSourceScan" not in node.getClass().getName():
            continue
        metrics = {}
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            metrics[kv._1()] = kv._2().value()
        out.append({"node": node.nodeName(), "metrics": metrics})
    return out


def _disk_counts(path: str) -> dict:
    per_part = {}
    for d in sorted(glob.glob(f"{path}/o_orderstatus=*")):
        per_part[os.path.basename(d)] = len(glob.glob(f"{d}/*.parquet"))
    return per_part


def main() -> None:
    from data_wrangler_spark.session import get_spark
    from data_wrangler_spark import REGISTRY
    from data_wrangler_spark.operators.io_formats import _IO_SCRATCH
    from data_wrangler_spark.scratch import ROOT, scratch_tag

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else f"{ROOT}/sfprobe/f10"

    spark = get_spark("dpp_probe")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        fact_path = f"{_IO_SCRATCH}/{scratch_tag(sf_dir)}/orders_by_status"
        for name in ("q_partitioned_write_prune", "q_join_dpp"):
            df = REGISTRY[name].run(spark, sf_dir)
            df.collect()
            scans = _scan_leaf_metrics(df)
            print(
                json.dumps(
                    {
                        "query": name,
                        "sf_dir": sf_dir,
                        "disk_files_per_partition": _disk_counts(fact_path),
                        "scans": scans,
                    }
                )
            )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


if __name__ == "__main__":
    main()
