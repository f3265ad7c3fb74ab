"""Single-node head-to-head: the headline queries on DuckDB vs Spark.

The reference gateway executes nothing itself — every query is
delegated to a backing single-node SQL engine
(`/root/reference/index.js:230-252`). The honest baseline for
"matches-or-beats the reference's single-node throughput" is therefore
a state-of-the-art single-node engine running the *same* queries on
the *same* parquet: DuckDB, which the correctness harness already
holds us bit-equal to. This script times each headline query's exact
DuckDB oracle SQL (identical semantics by construction — the harness
hash-matches the results) and, optionally, the Spark side, emitting a
comparison table for BASELINE.md.

Usage: python tools/bench_duckdb.py [sf_dir] [--spark] [--arrow]

--arrow switches BOTH engines to columnar Arrow result delivery
(DuckDB `fetch_arrow_table()` vs Spark `toArrow()`). The default
convention (`fetchall()` vs `collect()`) is symmetric in API shape
but not in cost model: both build per-row Python objects, and for
multi-million-row results that conversion dominates Spark far more
than DuckDB (Row construction + driver single-thread assembly),
so large-OUTPUT queries measure client materialization, not the
plan. Arrow mode is the apples-to-apples delivery a real consumer
(pandas, another engine, a writer) would use — no per-row Python
objects on either side."""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from bench import HEADLINE

TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()

# per-query repeat budget: when the warm run already exceeds this,
# the warm run itself is recorded (reps=0 extra) — the pair-quadratic
# oracles at the derived f10 fixture do 100× the sf0.1 work, a single
# run settles the ratio question by an order of magnitude, and for
# multi-minute runs the warm/steady distinction is noise next to the
# data term. Below the cap: one unmeasured warm + median-of-3.
SINGLE_RUN_OVER_SEC = 60.0


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        # driver fixtures are single files; Spark-written fixtures
        # (the scale probe's derived dirs) are directories
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
        )
    return con


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    with_spark = "--spark" in sys.argv
    arrow = "--arrow" in sys.argv

    from data_wrangler_spark import REGISTRY

    # optional subset (comma-separated), mirroring bench.py — lets the
    # f50 probe rerun just the fixed-overhead "weak set" head-to-head
    # without paying the pair-quadratic oracles at 50x
    subset = os.environ.get("SPARK_GRAFT_BENCH_QUERIES")
    wanted = subset.split(",") if subset else HEADLINE

    con = duck_con(sf_dir)
    duck: dict[str, float] = {}
    spread: dict[str, dict[str, list[float]]] = {"duckdb": {}, "spark": {}}
    load_before = [round(x, 2) for x in os.getloadavg()]
    for name in wanted:
        spec = REGISTRY[name]
        if not spec.oracle:
            continue
        print(f"duckdb {name}: start", file=sys.stderr, flush=True)

        def duck_fetch():
            cur = con.execute(spec.oracle)
            if arrow:
                return cur.fetch_arrow_table().num_rows
            return len(cur.fetchall())

        t0 = time.time()
        n_rows = duck_fetch()  # warm (parquet metadata)
        warm = time.time() - t0
        if warm > SINGLE_RUN_OVER_SEC:
            duck[name], reps = round(warm, 4), 0
        else:
            runs = []
            for _ in range(3):  # median-of-3, matching bench.py
                t0 = time.time()
                n_rows = duck_fetch()
                runs.append(time.time() - t0)
            duck[name], reps = round(sorted(runs)[1], 4), 3
            spread["duckdb"][name] = [round(r, 4) for r in runs]
        print(
            f"duckdb {name}: {duck[name]}s ({n_rows} rows, {reps} reps)",
            file=sys.stderr,
            flush=True,
        )

    out: dict = {
        "sf_dir": sf_dir,
        "delivery": "arrow" if arrow else "rows",
        "duckdb_total_sec": round(sum(duck.values()), 4),
        "duckdb": duck,
    }

    if with_spark:
        from data_wrangler_spark.session import get_spark

        spark = get_spark("bench_duckdb")
        sp: dict[str, float] = {}
        for name in duck:
            fn = REGISTRY[name]
            print(f"spark  {name}: start", file=sys.stderr, flush=True)

            def spark_fetch():
                df = fn.run(spark, sf_dir)
                if arrow:
                    return df.toArrow().num_rows
                return len(df.collect())

            t0 = time.time()
            spark_fetch()  # warm (JIT + file listing)
            warm = time.time() - t0
            if warm > SINGLE_RUN_OVER_SEC:
                sp[name], reps = round(warm, 4), 0
            else:
                runs = []
                for _ in range(3):  # median-of-3, matching bench.py
                    t0 = time.time()
                    spark_fetch()
                    runs.append(time.time() - t0)
                sp[name], reps = round(sorted(runs)[1], 4), 3
                spread["spark"][name] = [round(r, 4) for r in runs]
            print(
                f"spark  {name}: {sp[name]}s ({reps} reps)",
                file=sys.stderr,
                flush=True,
            )
        out["spark_total_sec"] = round(sum(sp.values()), 4)
        out["spark"] = sp
        out["ratio_spark_over_duckdb"] = {
            n: round(sp[n] / duck[n], 2) if duck[n] > 0 else None for n in sp
        }

    # load evidence (VERDICT r12 #3): host run-queue state + raw run
    # spread committed with the numbers, so a contended box is visible
    # in the artifact instead of adjudicated by narrative
    out["load"] = {
        "before": load_before,
        "after": [round(x, 2) for x in os.getloadavg()],
        "ncpu": os.cpu_count(),
    }
    out["run_spread"] = spread
    print(json.dumps(out))


if __name__ == "__main__":
    main()
