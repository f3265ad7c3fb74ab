"""Single-pass wall-clock sweep of the full registry (noop sink).

Optimization-round outlier detection (guide §1: measure first): one
cold run per query at the given SF, noop-forced, pinned frames
released between queries. Not a benchmark — a triage list: anything
slow here gets re-measured in isolation (median of N on a quiet box)
before and after any change.

Usage: python tools/time_sweep.py OUT.json [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    out_path = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"

    from data_wrangler_spark.session import get_spark
    from data_wrangler_spark import REGISTRY
    from data_wrangler_spark.functions.distributed import release_pinned

    spark = get_spark("time_sweep")
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name in sorted(REGISTRY):
        spark.sparkContext.setJobDescription(f"time_sweep: {name}")
        t0 = time.perf_counter()
        try:
            REGISTRY[name].run(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            timings[name] = round(time.perf_counter() - t0, 3)
        except Exception as e:
            errors[name] = f"{type(e).__name__}: {e}"[:200]
        finally:
            release_pinned()
            spark.sparkContext.setJobDescription(None)
    with open(out_path, "w") as fh:
        json.dump(
            {"sf_dir": sf_dir, "timings": timings, "errors": errors}, fh, indent=1
        )
    for name, sec in sorted(timings.items(), key=lambda kv: -kv[1])[:25]:
        print(f"{sec:8.2f}  {name}")
    for name, err in errors.items():
        print(f"   ERROR  {name}: {err}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
