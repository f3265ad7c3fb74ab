"""Local mimic of the driver's correctness harness.

Runs every registered query at a given SF against its DuckDB oracle:
row-count + column-name + value comparison (order-insensitive, exact
first, float-tolerance fallback reported separately). Use while
iterating so driver-side CORRECTNESS_r{N}.json holds no surprises.

Usage: python tools/verify_local.py [sf_dir] [query ...]
       python tools/verify_local.py --json OUT.json [sf_dir ...]

With ``--json``, runs the FULL registry at each given sf_dir (default
sf0.001 + sf0.01) and writes one combined artifact — the per-round
committed full-sweep record (VERDICT r4 #1: the driver samples only
the 50 alphabetically-first queries, so the repo carries its own
complete sweep; see README "Correctness artifacts").
"""

from __future__ import annotations

import json
import math
import os
import sys
import time
import traceback

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        # driver fixtures are single files; Spark-written fixtures
        # (e.g. the scale probe's derived dirs) are directories
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def normalize(rows: list[tuple]) -> list[tuple]:
    def norm_cell(v):
        if isinstance(v, float):
            if math.isnan(v):
                return ("f", "nan")
            return ("f", repr(v))
        if hasattr(v, "isoformat"):
            return ("t", v.isoformat())
        if isinstance(v, (list, tuple)):
            return ("l", tuple(norm_cell(x) for x in v))
        if isinstance(v, dict):
            return ("d", tuple(sorted((k, norm_cell(x)) for k, x in v.items())))
        if isinstance(v, bytes):
            return ("b", v.hex())
        return (type(v).__name__, v)

    return sorted(tuple(norm_cell(c) for c in r) for r in rows)


def approx_equal(a: list[tuple], b: list[tuple], rel=1e-9) -> bool:
    def cell_eq(x, y):
        if x == y:
            return True
        if x[0] == "f" and y[0] == "f":
            try:
                xf, yf = float(x[1]), float(y[1])
            except ValueError:
                return x[1] == y[1]
            return math.isclose(xf, yf, rel_tol=rel, abs_tol=1e-9)
        if x[0] == "l" and y[0] == "l":
            return len(x[1]) == len(y[1]) and all(cell_eq(i, j) for i, j in zip(x[1], y[1]))
        return False

    return len(a) == len(b) and all(
        len(r1) == len(r2) and all(cell_eq(c1, c2) for c1, c2 in zip(r1, r2))
        for r1, r2 in zip(a, b)
    )


def sweep(
    spark, sf_dir: str, only: set[str], skip: set[str] = frozenset()
) -> tuple[dict, int, int, int]:
    """Run the registry (or ``only``, minus ``skip``) at one sf_dir;
    returns (per-query results, n_pass, n_fail, n_rows_only)."""
    from data_wrangler_spark.functions.distributed import release_pinned
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    # sweep-only oracle overrides: same result, restructured for
    # DuckDB (temp-table edge lists so recursive CTEs don't
    # re-evaluate a heavy CTE per iteration — see QuerySpec.
    # oracle_sweep). The driver contract above stays untouched.
    from data_wrangler_spark.registry import REGISTRY as _REG

    for _name, _spec in _REG.items():
        if _spec.oracle_sweep is not None:
            oracles[_name] = _spec.oracle_sweep
    con = duck_con(sf_dir)

    results, n_pass, n_fail, n_rows_only = {}, 0, 0, 0
    for name, fn in qs.items():
        if (only and name not in only) or name in skip:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sorted(sdf.columns)
            srows = [tuple(r[c] for c in scols) for r in sdf.collect()]
            release_pinned()
        except Exception:
            release_pinned()
            results[name] = {"status": "SPARK_ERROR", "err": traceback.format_exc(limit=3)}
            n_fail += 1
            print(f"✗ {name}: SPARK_ERROR")
            traceback.print_exc(limit=3)
            continue
        if name not in oracles:
            results[name] = {"status": "ROWS_ONLY", "rows": len(srows)}
            n_rows_only += 1
            print(f"○ {name}: rows-only ({len(srows)} rows) [{time.time()-t0:.1f}s]")
            continue
        try:
            res = con.execute(oracles[name])
            dcols_raw = [d[0] for d in res.description]
            drows_raw = res.fetchall()
        except Exception:
            results[name] = {"status": "ORACLE_ERROR", "err": traceback.format_exc(limit=3)}
            n_fail += 1
            print(f"✗ {name}: ORACLE_ERROR")
            traceback.print_exc(limit=3)
            continue
        dorder = sorted(range(len(dcols_raw)), key=lambda i: dcols_raw[i])
        dcols = [dcols_raw[i] for i in dorder]
        drows = [tuple(r[i] for i in dorder) for r in drows_raw]

        status, detail = "PASS", ""
        if scols != dcols:
            status, detail = "COLS_MISMATCH", f"spark={scols} duck={dcols}"
        elif len(srows) != len(drows):
            status, detail = "COUNT_MISMATCH", f"spark={len(srows)} duck={len(drows)}"
        else:
            ns, nd = normalize(srows), normalize(drows)
            if ns == nd:
                pass
            elif approx_equal(ns, nd):
                status = "PASS_APPROX"  # exact hash would fail → investigate
                for r1, r2 in zip(ns, nd):
                    if r1 != r2:
                        detail = f"first diff: {r1} vs {r2}"
                        break
            else:
                status = "VALUES_MISMATCH"
                for r1, r2 in zip(ns, nd):
                    if r1 != r2:
                        detail = f"first diff: {r1} vs {r2}"
                        break
        results[name] = {"status": status, "rows": len(srows), "detail": detail}
        ok = status == "PASS"
        n_pass += ok
        n_fail += not ok and status != "PASS_APPROX"
        mark = "✓" if ok else ("≈" if status == "PASS_APPROX" else "✗")
        print(f"{mark} {name}: {status} ({len(srows)} rows) [{time.time()-t0:.1f}s] {detail[:300]}")

    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only, {len(results)} total")
    return results, n_pass, n_fail, n_rows_only


def main() -> int:
    from data_wrangler_spark.session import get_spark

    args = sys.argv[1:]
    out_json, skip = None, set()
    if "--json" in args:
        i = args.index("--json")
        out_json = args[i + 1]
        args = args[:i] + args[i + 2 :]
    if "--skip" in args:
        i = args.index("--skip")
        skip = set(args[i + 1].split(","))
        args = args[:i] + args[i + 2 :]

    spark = get_spark("verify_local")

    if out_json:
        sf_dirs = args or ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
        artifact: dict = {"sweeps": {}}
        total_fail = 0
        for sf_dir in sf_dirs:
            print(f"\n=== full sweep @ {sf_dir} ===")
            results, n_pass, n_fail, n_ro = sweep(spark, sf_dir, set(), skip)
            total_fail += n_fail
            artifact["sweeps"][sf_dir] = {
                "n_pass": n_pass,
                "n_fail": n_fail,
                "n_rows_only": n_ro,
                "n_total": len(results),
                "skipped": sorted(skip),
                "results": results,
            }
        artifact["ok"] = total_fail == 0
        with open(out_json, "w") as f:
            json.dump(artifact, f, indent=1, default=str)
        print(f"\nwrote {out_json} (ok={artifact['ok']})")
        return 1 if total_fail else 0

    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    results, _, n_fail, _ = sweep(spark, sf_dir, only)
    # scratch artifact (gitignored): stamped with what was actually
    # checked so a stale copy can't read as coverage evidence
    with open(os.path.join(REPO, "CORRECTNESS_LOCAL.json"), "w") as f:
        json.dump(
            {"sf_dir": sf_dir, "only": sorted(only), "results": results},
            f,
            indent=1,
            default=str,
        )
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
