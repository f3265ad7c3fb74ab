"""Rebuild-vs-serve split for the maintained embedding index (r13).

The q_sim_search_ivf SCALE story measured re-train 4.0s (growing)
vs serve 1.37s (flat) at f50; this extends it to the MAINTAINED
index: time q_embed_index_rebuild's expensive leg (refit + one
repartition("cell") member rewrite + manifest swap, starting from
the as-appended day0/day1 state) against the warm serve (probe
through the committed CURRENT index). Resets only the rebuild
artifacts (manifests + v2/) so the append state is reused, exactly
the state a production rebuild starts from.

Usage: python tools/time_rebuild_r13.py [fixture_dir ...]
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, "/root/repo")


def main() -> None:
    from data_wrangler_spark.operators.dedup import _embed_2day_path
    from data_wrangler_spark.registry import REGISTRY
    from data_wrangler_spark.scratch import ROOT
    from data_wrangler_spark.session import get_spark

    fixtures = sys.argv[1:] or [
        "/root/testdata/sf0.1",
        f"{ROOT}/sfprobe/f5",
        f"{ROOT}/sfprobe/f10",
        f"{ROOT}/sfprobe/f50",
    ]
    spark = get_spark("time_rebuild_r13")
    for fx in fixtures:
        base = _embed_2day_path(fx)
        for p in ("CURRENT_INDEX", "INDEX-v1.json", "INDEX-v2.json"):
            try:
                os.remove(f"{base}/{p}")
            except OSError:
                pass
        shutil.rmtree(f"{base}/v2", ignore_errors=True)

        t0 = time.perf_counter()
        n = REGISTRY["q_embed_index_rebuild"].run(spark, fx).count()
        t_build = time.perf_counter() - t0
        t0 = time.perf_counter()
        n2 = REGISTRY["q_embed_index_rebuild"].run(spark, fx).count()
        t_serve = time.perf_counter() - t0
        nf_old = sum(
            len([f for f in files if f.endswith(".parquet")])
            for sub in ("day0", "day1")
            for _, _, files in os.walk(f"{base}/{sub}")
        )
        nf_new = sum(
            len([f for f in files if f.endswith(".parquet")])
            for _, _, files in os.walk(f"{base}/v2/members")
        )
        print(
            f"{fx}: rebuild+probe {t_build:.2f}s, warm serve {t_serve:.2f}s, "
            f"pairs {n}/{n2}, files day0+day1={nf_old} -> v2/members={nf_new}",
            flush=True,
        )


if __name__ == "__main__":
    main()
