"""Capture .explain("formatted") output for queries into plans/<round>/.

Usage: python tools/capture_plans.py <round_dir> <tag> [query ...]

Writes plans/<round_dir>/<query>_<tag>.txt for each query (default:
the bench HEADLINE set). Tag is typically "before" or "after" — the
optimization-round evidence contract: the judge reads these files to
check plan claims (Exchange counts, join strategies, PushedFilters,
BatchEvalPython nodes) without running Spark.
"""

from __future__ import annotations

import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    round_dir, tag = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from data_wrangler_spark.session import get_spark
    from data_wrangler_spark import REGISTRY

    if not names:
        import bench

        names = bench.HEADLINE

    spark = get_spark("capture_plans")
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", round_dir)
    os.makedirs(out_dir, exist_ok=True)
    import contextlib

    for name in names:
        df = REGISTRY[name].run(spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(f"-- {name} @ {sf_dir} ({tag})\n")
            fh.write(plan)
        n_exch = plan.count("Exchange")
        n_py = plan.count("EvalPython") + plan.count("MapInArrow") + plan.count("MapInPandas")
        joins = sorted(
            {
                j
                for j in (
                    "BroadcastHashJoin",
                    "SortMergeJoin",
                    "ShuffledHashJoin",
                    "BroadcastNestedLoopJoin",
                    "CartesianProduct",
                )
                if j in plan
            }
        )
        print(f"{name}: Exchange={n_exch} python={n_py} joins={','.join(joins) or '-'}")


if __name__ == "__main__":
    main()
