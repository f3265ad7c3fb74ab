"""The engine process of one benchmark run.

    python3 perfbench/engine_proc.py gateway --sf-dir D --scratch S --cache C \
        --ready-file R [--trace-out T]
    python3 perfbench/engine_proc.py analytics --sf-dir D --scratch S --cache C \
        --ops OPS.json --out OUT.json [--trace-out T]

``gateway`` deploys the gateway the way `python -m data_wrangler_spark.serve`
does (same `main`, port 0, ready file) and serves until SIGTERM.
``analytics`` is the in-process `Engine` client: it runs one warm-up
pass collecting full outputs (for the oracle check) and as many more
into the ``noop`` sink as OPS.json names, then as many timed passes as
OPS.json names into the ``noop`` sink, releasing pins
after every query as `/run` does, and writes per-op records to
OUT.json and the collected outputs beside it.

Before either starts, the engine's scratch roots are pointed inside
the benchmark's checkout: the streaming scratch root (`ckpt/`,
`stream_in/`, `sink_out/`, ...) to the per-run dir S, every other
scratch root (persisted indexes and build-once artifacts, all keyed
by fixture path and mtime) to the per-checkout dir C.
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def redirect_scratch(run_root: str, cache_root: str) -> None:
    """Point the engine's module-level scratch roots (the shipped root
    is `streaming.windows.SCRATCH`; other modules derive theirs from
    the same prefix) at ``run_root`` and ``cache_root``."""
    import data_wrangler_spark  # noqa: F401  (imports every module)
    from data_wrangler_spark.streaming import windows

    shipped = windows.SCRATCH
    windows.SCRATCH = run_root
    for name, mod in list(sys.modules.items()):
        if not name.startswith("data_wrangler_spark") or mod is None:
            continue
        for attr, val in list(vars(mod).items()):
            if isinstance(val, str) and val.startswith(shipped + "/"):
                setattr(mod, attr, cache_root + val[len(shipped):])


def gateway(args) -> int:
    from data_wrangler_spark import serve as serve_mod

    if args.trace_out:
        import spans

        spans.install(spans.Tracer(), server_trace_path=args.trace_out)
    return serve_mod.main(
        ["--sf-dir", args.sf_dir, "--port", "0", "--ready-file", args.ready_file]
    )


def analytics(args) -> int:
    import spans
    from data_wrangler_spark.engine import Engine
    from data_wrangler_spark.session import get_spark

    with open(args.ops) as f:
        plan = json.load(f)
    tracer = spans.Tracer() if args.trace_out else spans.NullTracer()
    if args.trace_out:
        spans.install(tracer)
    spark = get_spark("data_wrangler_spark.bench")
    if args.trace_out:
        tracer.attach(spark)
    eng = Engine(spark, args.sf_dir)
    ready = time.time()

    records, outputs = [], {}

    def run_op(op: dict, collect: bool) -> None:
        rec = {"id": op["id"], "name": op["name"], "start": time.time()}
        try:
            with tracer.op(op["id"]):
                df = eng.run(op["name"], **op["binds"])
                with tracer.span("exec"):
                    if collect:
                        cols = sorted(df.columns)
                        rows = [tuple(r[c] for c in cols) for r in df.collect()]
                        outputs[op["id"]] = (cols, rows)
                    else:
                        df.write.format("noop").mode("overwrite").save()
                eng.release_cache()
            rec["ok"] = True
        except Exception as exc:  # recorded per op, counted as failed
            rec["ok"], rec["error"] = False, f"{type(exc).__name__}: {exc}"[:500]
            eng.release_cache()
        rec["end"] = time.time()
        records.append(rec)

    for op in plan["pass"]:
        run_op({**op, "id": f"w-{op['id']}"}, collect=True)
    for i in range(plan["warm_passes"]):
        for op in plan["pass"]:
            run_op({**op, "id": f"w{i}-{op['id']}"}, collect=False)
    warm = time.time()
    for i in range(plan["passes"]):
        for op in plan["pass"]:
            run_op({**op, "id": f"p{i}-{op['id']}"}, collect=False)
    done = time.time()
    if args.trace_out:
        tracer.dump(args.trace_out)
    spark.stop()

    with open(args.out + ".pkl", "wb") as f:
        pickle.dump(outputs, f)
    with open(args.out, "w") as f:
        json.dump(
            {"ready": ready, "warm": warm, "done": done, "ops": records},
            f,
        )
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=("gateway", "analytics"))
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--scratch", required=True)
    ap.add_argument("--cache", required=True)
    ap.add_argument("--ready-file")
    ap.add_argument("--ops")
    ap.add_argument("--out")
    ap.add_argument("--trace-out")
    args = ap.parse_args(argv)
    sys.path.insert(0, REPO)
    redirect_scratch(args.scratch, args.cache)
    return gateway(args) if args.mode == "gateway" else analytics(args)


if __name__ == "__main__":
    sys.exit(main())
