"""Amortized warm-serving head-to-head for the standing weak set.

Every round since r9 the seven f50 Arrow ratios >2x (BENCH_F50_ARROW:
q_sort_paginate 9.2x ... q_text_fingerprint 2.3x) have been adjudged
"fixed job-launch floors, not data terms" by narrative. This measures
the claim once (VERDICT r12 #5): serve each weak query through a WARM
engine N back-to-back times — the regime a real serving layer
(server.py's template catalog) runs in, where the plan is built once
and requests reuse it — and report per-request amortized latency for
both engines under the identical protocol (Arrow delivery, plan/SQL
prepared once, N repeated executions, mean after one unmeasured
warmup). DuckDB gets the same treatment: one connection, one warmup,
N repeated fetch_arrow_table of the same oracle SQL.

Three Spark modes (ADVICE r13):
- serving: ONE DataFrame, N toArrow() — repeated byte-identical
  requests reuse registered shuffle map outputs (skipped stages);
  the long-lived-session best case, disclosed as such.
- fresh_plan: a NEW DataFrame per request — full re-plan + full
  re-execution. The disclosed per-request-constant qualifier.
- parameterized: the template-serving regime — same plan SHAPE, a
  DIFFERENT bind value per request, so skipped-stage reuse is
  impossible while the workload is still "serve the catalog
  template". r14 covered only q_sort_paginate here; r15 gives every
  weak-set query a real template parameter (page, k, date bound,
  region, window width, hash modulus — VERDICT r14 #4) and rotates
  it. DuckDB gets the identical varied bind spliced into its oracle
  SQL.

The serving set is the seven f50 Arrow ratios >2x from r9 PLUS the
two work-dominated headline queries the r14 verdict asked amortized
rows for (q_contamination, q_kmeans_exact — serving/fresh modes;
they have no template bind, so no parameterized row).

Usage: python tools/bench_amortized.py [sf_dir] [N]
Defaults: the derived f50 fixture (the factor the weak labels were
assigned at), N=100. Writes one JSON line to stdout; commit it as
BENCH_AMORTIZED_r{N}.json each round (kept self-sustaining since
r14 — the serving claim is re-measured, not narrated forward).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, "/root/repo")

from bench_duckdb import duck_con  # noqa: E402  (tools/ sibling)

WEAK = [
    "q_sort_paginate",
    "q_agg_count_distinct",
    "q_topk",
    "q_join_multi",
    "q_agg_groupby",
    "q_stream_tumbling",
    "q_text_fingerprint",
    # r15 additions (VERDICT r14 #2): work-dominated headline queries
    # whose fresh ratios sit near the 2x line — measured here in the
    # serving regime a real pipeline runs them in
    "q_contamination",
    "q_kmeans_exact",
    # r16 additions (VERDICT r15 #6): the two stateless streaming
    # gates — the engine's lowest-latency shapes (0 state bytes, pure
    # codegen projection over each micro-batch). Fresh mode re-stages
    # the input splits and re-runs the availableNow stream per
    # request (the honest cold cost); serving mode re-reads the
    # materialized memory sink — the long-lived-gate best case,
    # disclosed as such. No template bind → no parameterized row.
    "q_stream_dsir_gate",
    "q_stream_pii_scrub",
]

# Per-query request-count overrides: the two streaming gates' DuckDB
# oracles replay the ENTIRE fit + scoring chain per request (the
# exactness contract — ~60-100 s each at f50), so N=100 reps would
# be hours of oracle time for no extra information. Their rows run
# fewer reps, recorded per-row as n_requests so the asymmetry is
# visible in the artifact, with the identical protocol otherwise.
N_OVERRIDE = {
    "q_stream_dsir_gate": 5,
    "q_stream_pii_scrub": 10,
}


def _tumbling_sql(minutes: int) -> str:
    """The q_stream_tumbling oracle regenerated at a different window
    width — same helper the registered oracle is built from."""
    from data_wrangler_spark.streaming.windows import _sql_bucket

    sec = int(minutes) * 60
    return f"""
    SELECT {_sql_bucket('ts', sec)} AS w_start,
           {_sql_bucket('ts', sec)} + INTERVAL {int(minutes)} MINUTE AS w_end,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(22,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2, 3
    """


# Per-query template binds for the parameterized mode: kwargs for the
# Spark builder at request i, plus the DuckDB splice producing the
# IDENTICAL query. Every splice asserts it changed the SQL, so a
# drifted oracle string fails loudly instead of silently measuring
# the unbound query.
_DATES = [
    "1998-09-02", "1998-06-02", "1998-03-02", "1997-12-02",
    "1997-09-02", "1997-06-02", "1997-03-02", "1996-12-02",
]
_SINCE = [
    "1992-06-01", "1993-06-01", "1994-06-01", "1995-06-01",
    "1996-06-01", "1992-01-01", "1994-01-01", "1996-01-01",
]
_REGIONS = ["ASIA", "AMERICA", "EUROPE", "AFRICA", "MIDDLE EAST"]
_KS = [5, 10, 20, 50, 100, 15, 25, 75]
_MINUTES = [5, 10, 15, 20, 30, 45, 60, 90]
_MODS = [1000000007, 999999937, 998244353, 1000000021]

PARAMS: dict[str, dict] = {
    "q_sort_paginate": {
        "label": "page 2..9 rotating",
        "bind": lambda i: {"page": 2 + (i % 8)},
        "splice": lambda sql, b: sql.replace(
            "LIMIT 50 OFFSET 100", f"LIMIT 50 OFFSET {50 * (b['page'] - 1)}"
        ),
    },
    "q_agg_groupby": {
        "label": "ship_before over 8 quarter bounds",
        "bind": lambda i: {"ship_before": f"{_DATES[i % 8]} 00:00:00"},
        "splice": lambda sql, b: sql.replace(
            "TIMESTAMP '1998-09-02 00:00:00'",
            f"TIMESTAMP '{b['ship_before']}'",
        ),
    },
    "q_agg_count_distinct": {
        "label": "since over 8 order-date bounds",
        "bind": lambda i: {"since": f"{_SINCE[i % 8]} 00:00:00"},
        "splice": lambda sql, b: sql.replace(
            "FROM orders",
            f"FROM orders WHERE o_orderdate >= TIMESTAMP '{b['since']}'",
        ),
    },
    "q_topk": {
        "label": "k in {5,10,15,20,25,50,75,100}",
        "bind": lambda i: {"k": _KS[i % 8]},
        "splice": lambda sql, b: sql.replace("LIMIT 10", f"LIMIT {b['k']}"),
    },
    "q_join_multi": {
        "label": "region over the 5 regions",
        "bind": lambda i: {"region": _REGIONS[i % 5]},
        "splice": lambda sql, b: sql.replace("'ASIA'", f"'{b['region']}'"),
    },
    "q_stream_tumbling": {
        "label": "window width 5..90 minutes",
        "bind": lambda i: {"minutes": _MINUTES[i % 8]},
        "splice": lambda sql, b: _tumbling_sql(b["minutes"]),
    },
    "q_text_fingerprint": {
        "label": "rolling-hash modulus over 4 primes",
        "bind": lambda i: {"mod": _MODS[i % 4]},
        "splice": lambda sql, b: sql.replace("1000000007", str(b["mod"])),
    },
}


def main() -> None:
    from data_wrangler_spark.scratch import ROOT

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else f"{ROOT}/sfprobe/f50"
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 100
    load_before = [round(x, 2) for x in os.getloadavg()]

    from data_wrangler_spark import REGISTRY
    from data_wrangler_spark.functions.distributed import release_pinned
    from data_wrangler_spark.session import get_spark

    con = duck_con(sf_dir)
    spark = get_spark("bench_amortized")

    n_fresh = max(1, n // 5)
    out: dict = {
        "metric": "amortized_serving_sec_per_request",
        "sf_dir": sf_dir,
        "n_requests": n,
        "n_requests_fresh_plan": n_fresh,
        "delivery": "arrow",
        "queries": {},
        "fresh_plan": {},
    }
    for name in WEAK:
        spec = REGISTRY[name]
        n_q = N_OVERRIDE.get(name, n)
        n_fresh_q = max(1, n_q // 5)

        # DuckDB: one connection, one warmup, N repeated serves.
        # DuckDB re-plans and re-executes in full every request —
        # that IS its serving regime (planning is microseconds and
        # it keeps no cross-query execution state), so one mode
        # covers it.
        con.execute(spec.oracle).fetch_arrow_table()
        t0 = time.perf_counter()
        for _ in range(n_q):
            con.execute(spec.oracle).fetch_arrow_table()
        d_total = time.perf_counter() - t0

        # Spark serving mode: plan built ONCE, N repeated serves —
        # the server.py template-catalog regime. Each toArrow()
        # launches real jobs, but Spark reuses the registered map
        # outputs of already-computed shuffle stages on the same
        # plan (skipped stages), so repeated identical requests pay
        # only the result-side stage — the warm-serving behavior a
        # long-lived session gives for free, stated explicitly so
        # the number isn't mistaken for full recompute.
        df = spec.run(spark, sf_dir)
        df.toArrow()
        t0 = time.perf_counter()
        for _ in range(n_q):
            df.toArrow()
        s_total = time.perf_counter() - t0
        # the warm engine legitimately holds its pinned frames DURING
        # serving; release them before the next mode so ops that pin
        # (q_contamination, q_kmeans_exact) don't accumulate resident
        # copies that skew every later measurement
        release_pinned()

        q = {
            "n_requests": n_q,
            "duckdb_amortized": round(d_total / n_q, 5),
            "spark_amortized": round(s_total / n_q, 5),
            "ratio_spark_over_duckdb": round(s_total / d_total, 2),
            "duckdb_total": round(d_total, 3),
            "spark_total": round(s_total, 3),
        }
        out["queries"][name] = q
        print(f"{name}: {json.dumps(q)}", file=sys.stderr, flush=True)

        # Spark fresh-plan mode: a NEW DataFrame per request — full
        # re-plan + full re-execution, no stage reuse. The gap to
        # the serving mode is exactly the per-request constant the
        # weak labels were measuring (plan build + stage recompute).
        # release INSIDE the timed loop: a fresh-plan server drops the
        # previous request's cache as part of serving the next, so the
        # unpersist is part of the per-request cost being measured
        # (near-no-op for the seven pin-free queries)
        t0 = time.perf_counter()
        for _ in range(n_fresh_q):
            spec.run(spark, sf_dir).toArrow()
            release_pinned()
        f_total = time.perf_counter() - t0
        fq = {
            "n_requests": n_fresh_q,
            "spark_amortized": round(f_total / n_fresh_q, 5),
            "ratio_spark_over_duckdb": round(
                (f_total / n_fresh_q) / (d_total / n_q), 2
            ),
            "spark_total": round(f_total, 3),
        }
        out["fresh_plan"][name] = fq
        print(f"{name} fresh: {json.dumps(fq)}", file=sys.stderr, flush=True)

        # Parameterized serving (module docstring): the bind varies
        # per request on BOTH engines, so neither side can reuse a
        # prior request's execution. All seven r9 weak queries carry
        # a real template parameter now (VERDICT r14 #4); the two
        # r15 work-dominated additions have none and skip this mode.
        p = PARAMS.get(name)
        if p is not None:
            binds = [p["bind"](i) for i in range(n_fresh)]
            # every non-default splice must actually change the SQL
            # (a bind equal to the registered default legitimately
            # reproduces the original string)
            for b in binds:
                if all(spec.defaults.get(k) == v for k, v in b.items()):
                    continue
                if p["splice"](spec.oracle, b) == spec.oracle:
                    raise AssertionError(f"{name}: splice missed for {b}")
            spec.run(spark, sf_dir, **binds[0]).toArrow()
            release_pinned()
            t0 = time.perf_counter()
            for b in binds:
                spec.run(spark, sf_dir, **b).toArrow()
                release_pinned()
            sp_total = time.perf_counter() - t0

            con.execute(p["splice"](spec.oracle, binds[0])).fetch_arrow_table()
            t0 = time.perf_counter()
            for b in binds:
                con.execute(p["splice"](spec.oracle, b)).fetch_arrow_table()
            dp_total = time.perf_counter() - t0
            pq = {
                "param": p["label"],
                "n_requests": n_fresh,
                "duckdb_amortized": round(dp_total / n_fresh, 5),
                "spark_amortized": round(sp_total / n_fresh, 5),
                "ratio_spark_over_duckdb": round(sp_total / dp_total, 2),
            }
            out.setdefault("parameterized", {})[name] = pq
            print(
                f"{name} parameterized: {json.dumps(pq)}",
                file=sys.stderr,
                flush=True,
            )

    out["load"] = {
        "before": load_before,
        "after": [round(x, 2) for x in os.getloadavg()],
        "ncpu": os.cpu_count(),
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
