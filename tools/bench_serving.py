"""Concurrent serving tail-latency head-to-head (VERDICT r15 #2).

BENCH_AMORTIZED answers "what does a warm request cost on average,
one client at a time". A real gateway serves CONCURRENT clients with
VARIED binds — the regime where lock contention, scheduler queuing,
and per-request constants surface in the TAIL, not the mean. This
drives the actual HTTP server (server.py, real sockets, JSON row
delivery with the /run route's LIMIT pushed into the plan) with the
seven parameterized weak-set templates under N_CLIENTS concurrent
clients, each request a rotating bind from bench_amortized.PARAMS —
so no engine can reuse a prior request's execution — and reports
per-query p50/p95/p99/mean latency plus aggregate throughput.

DuckDB gets the same workload shape at the same concurrency: a
thread pool of N_CLIENTS workers, one cursor per worker over one
shared connection, the IDENTICAL spliced oracle SQL per request
wrapped in the same LIMIT. DuckDB has no gateway layer, so its
numbers are the bare-engine floor (disclosed — the Spark side pays
HTTP + JSON serialization on top of the engine).

Serialization disclosure: q_stream_tumbling's staged-input scratch
build is single-writer (windows._stage_parts rmtree-and-rebuild), so
the gateway serializes that one name behind the conservative /run
lock while the six batch templates serve fully concurrently under
the r16 per-thread pin list. Its tail is therefore queueing on a
disclosed design constant, not a data term — the artifact records
which names served concurrently.

Usage: python tools/bench_serving.py [sf_dir] [n_clients] [n_per_query]
Defaults: the derived f50 fixture, 12 clients, 24 requests per query
(168 total). Writes one JSON line to stdout; commit as
BENCH_SERVING_r{N}.json.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
import urllib.parse
import urllib.request
from concurrent.futures import ThreadPoolExecutor

sys.path.insert(0, "/root/repo")
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench_amortized import PARAMS  # noqa: E402
from bench_duckdb import duck_con  # noqa: E402

SERVE = [
    "q_sort_paginate",
    "q_agg_count_distinct",
    "q_topk",
    "q_join_multi",
    "q_agg_groupby",
    "q_stream_tumbling",
    "q_text_fingerprint",
]
LIMIT = 100  # the /run default — pushed into BOTH engines' plans


def _pcts(xs: list[float]) -> dict:
    s = sorted(xs)

    def pct(p: float) -> float:
        i = min(len(s) - 1, round(p / 100 * (len(s) - 1)))
        return s[i]

    return {
        "n": len(s),
        "p50": round(pct(50), 4),
        "p95": round(pct(95), 4),
        "p99": round(pct(99), 4),
        "mean": round(sum(s) / len(s), 4),
        "max": round(s[-1], 4),
    }


def _workload(n_per_query: int) -> list[tuple[str, dict]]:
    """Interleaved (query, bind) list: round-robin over the seven
    templates, bind index advancing per visit so consecutive hits on
    a template always carry different binds."""
    reqs = []
    for i in range(n_per_query):
        for name in SERVE:
            reqs.append((name, PARAMS[name]["bind"](i)))
    return reqs


def main() -> None:
    from data_wrangler_spark.scratch import ROOT

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else f"{ROOT}/sfprobe/f50"
    n_clients = int(sys.argv[2]) if len(sys.argv) > 2 else 12
    n_per_query = int(sys.argv[3]) if len(sys.argv) > 3 else 24
    load_before = [round(x, 2) for x in os.getloadavg()]

    from data_wrangler_spark import REGISTRY
    from data_wrangler_spark.server import GatewayServer
    from data_wrangler_spark.session import get_spark

    reqs = _workload(n_per_query)
    out: dict = {
        "metric": "concurrent_serving_latency_sec",
        "sf_dir": sf_dir,
        "n_clients": n_clients,
        "n_requests_total": len(reqs),
        "limit_rows": LIMIT,
        "delivery": {"spark": "http+json (gateway)", "duckdb": "rows (bare engine)"},
        "binds": {n: PARAMS[n]["label"] for n in SERVE},
        "spark": {},
        "duckdb": {},
    }

    # ── Spark: through the real HTTP gateway ──────────────────────
    spark = get_spark("bench_serving")
    srv = GatewayServer(spark, sf_dir).start()
    out["concurrent_route_names"] = sorted(
        n for n in SERVE if n in GatewayServer._CONCURRENT_SAFE
    )

    def url_of(name: str, bind: dict) -> str:
        qs = urllib.parse.urlencode({**bind, "limit": LIMIT})
        return f"{srv.base_url}/run/{name}?{qs}"

    def hit(req: tuple[str, dict]) -> tuple[str, float]:
        name, bind = req
        t0 = time.perf_counter()
        with urllib.request.urlopen(url_of(name, bind), timeout=600) as r:
            p = json.loads(r.read())
        dt = time.perf_counter() - t0
        assert p.get("ok"), (name, bind, p)
        return name, dt

    # warm every template once (stages the stream scratch, compiles
    # the first plan) — untimed, matching bench_amortized protocol
    for name in SERVE:
        hit((name, PARAMS[name]["bind"](0)))

    lat: dict[str, list[float]] = {n: [] for n in SERVE}
    t0 = time.perf_counter()
    with ThreadPoolExecutor(max_workers=n_clients) as pool:
        for name, dt in pool.map(hit, reqs):
            lat[name].append(dt)
    s_wall = time.perf_counter() - t0
    srv.stop()
    for n in SERVE:
        out["spark"][n] = _pcts(lat[n])
        print(f"spark {n}: {json.dumps(out['spark'][n])}", file=sys.stderr, flush=True)
    out["spark_wall_sec"] = round(s_wall, 2)
    out["spark_throughput_rps"] = round(len(reqs) / s_wall, 2)

    # ── DuckDB: same workload, same concurrency, bare engine ──────
    con = duck_con(sf_dir)
    tl = threading.local()

    def cur_of():
        c = getattr(tl, "cur", None)
        if c is None:
            c = tl.cur = con.cursor()
        return c

    def sql_of(name: str, bind: dict) -> str:
        spec = REGISTRY[name]
        spliced = PARAMS[name]["splice"](spec.oracle, bind)
        return f"SELECT * FROM ({spliced}) LIMIT {LIMIT}"

    def dhit(req: tuple[str, dict]) -> tuple[str, float]:
        name, bind = req
        sql = sql_of(name, bind)
        t0 = time.perf_counter()
        n_rows = len(cur_of().execute(sql).fetchall())
        dt = time.perf_counter() - t0
        assert n_rows >= 0
        return name, dt

    for name in SERVE:  # warmup (parquet metadata)
        dhit((name, PARAMS[name]["bind"](0)))
    dlat: dict[str, list[float]] = {n: [] for n in SERVE}
    t0 = time.perf_counter()
    with ThreadPoolExecutor(max_workers=n_clients) as pool:
        for name, dt in pool.map(dhit, reqs):
            dlat[name].append(dt)
    d_wall = time.perf_counter() - t0
    for n in SERVE:
        out["duckdb"][n] = _pcts(dlat[n])
        print(f"duckdb {n}: {json.dumps(out['duckdb'][n])}", file=sys.stderr, flush=True)
    out["duckdb_wall_sec"] = round(d_wall, 2)
    out["duckdb_throughput_rps"] = round(len(reqs) / d_wall, 2)
    out["ratio_p99_spark_over_duckdb"] = {
        n: round(out["spark"][n]["p99"] / out["duckdb"][n]["p99"], 2)
        for n in SERVE
    }
    out["load"] = {
        "before": load_before,
        "after": [round(x, 2) for x in os.getloadavg()],
        "ncpu": os.cpu_count(),
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
