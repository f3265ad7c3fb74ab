"""The repository benchmark: what a caller of the engine pays.

    python3 perfbench/run.py --workload ingest|analytics \
        --seed N --seconds S --trace 0|1

Runs one workload against `data_wrangler_spark` as shipped (engine
defaults, local[4], no table-DataFrame cache, no tuning variables) on
a synthetic fixture it generates once per checkout
(`perfbench/fixture.py`, sf0.01 row counts), checks every
operation's answer, and prints one JSON line:
``{"correct", "attempted", "failed", "metrics"}``.

Workloads (closed loops from one process; see `workloads.py`):

- ``ingest``: one writer running round(``--seconds`` / 9.5) cycles of
  streaming write ops via `/run` against a `GatewayServer` in its own
  process (deployed like `python -m data_wrangler_spark.serve`), while
  2 readers send short reads and 1 reader sends the one locked `/run`
  read, until the writer is done.
- ``analytics``: one in-process `Engine` client running
  round(``--seconds`` / 7) passes over the heavy four and four
  scan/aggregate/join/window queries into the noop sink, releasing
  pins after every query as `/run` does.

End-to-end metrics (``--trace 0``), over the run's timed ops:

- ``setup_s``: engine process start until the warm-up is done. The
  warm-up sends each op kind once (the `/run` ones asking for their
  full output) or, in analytics, runs one collecting pass and
  ``WARM_PASSES`` untimed noop passes.
- ``p50_ms``: median latency of the light ops. In ingest, over all
  reads. In analytics, where a run times a few passes over four
  scan/aggregate/join/window queries of very different lengths, each
  query's median over the passes, geometric mean over the four (a
  median over the mixed ops would sit on the edge between two queries).
- ``ops_per_s``: ops completed per second of the window (reads in
  ingest; every query in analytics).
- ``heavy_mean_ms``: mean latency of the heavy ops, so that every heavy
  op moves it: in ingest, over the writes of whole cycles; in
  analytics, each of the heavy four's median over the passes, mean
  over the four.

``--trace 1`` runs the workload untraced, then traced (`spans.py`),
and prints the traced run's per-layer metrics; from the untraced run
``mem.peak_rss_mb`` (the summed peak RSS of the engine's Python
process, its JVM and any Python workers) and ``client.p90_ms`` (the
light ops' tail); and, per end-to-end metric, ``overhead.<metric>``
= traced ÷ untraced. Each is printed with the end-to-end metric and
workload it should move.

Every failed op (an error, or an answer that differs from the DuckDB
oracle) is printed to stderr and counted in ``failed``.

Scratch state: each run gets a fresh scratch root for the streaming
ops (checkpoints, staged inputs, sink outputs) inside the checkout and
removes it when it ends. Persisted indexes (the dedup band index of
`q_stream_dedup_ingest`) live in a per-checkout cache. The first ingest
run in a checkout fills that cache before it starts the engine it
measures, by running each write op once, untimed; so every measured
run starts warm.
"""

from __future__ import annotations

import argparse
import http.client
import json
import os
import pickle
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import workloads as wl  # noqa: E402
from tools.verify_local import TABLES, duck_con  # noqa: E402

import data_wrangler_spark  # noqa: E402, F401  (the registry, for its oracles)

SCALE = 0.1  # of the sf0.1 fixture's row counts, i.e. sf0.01
CORES = 4
DATA = os.path.join(ROOT, ".bench_data")
ENGINE_BOOT_TIMEOUT_S = 300
# an ingest write cycle and an analytics pass take about this long on 4
# cores; a run times round(--seconds / this) whole ones, so the amount
# of work measured never depends on where a deadline happens to fall
CYCLE_S = 9.5
PASS_S = 7.0
# analytics passes still get faster after the collecting warm-up pass
# (the first noop pass reads ~10-25% slower than later ones on the
# heavy four), so one more, untimed, runs before the timed passes
WARM_PASSES = 1
REQUEST_TIMEOUT_S = 120

E2E_UNITS = {
    "setup_s": "s",
    "p50_ms": "ms",
    "ops_per_s": "1/s",
    "heavy_mean_ms": "ms",
}
LAYER_UNITS = {
    "mem.peak_rss_mb": "MB",
    "client.p90_ms": "ms",
    "server.route_ms": "ms",
    "server.http_ms": "ms",
    "server.lock_wait_ms": "ms",
    "templates.bind_ms": "ms",
    "catalog.load_table_calls": "count",
    "catalog.load_table_ms": "ms",
    "builder.ms": "ms",
    "builder.jobs": "count",
    "plan.ms": "ms",
    "exec.ms": "ms",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.executor_run_ms": "ms",
    "exec.core_utilization": "ratio",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.input_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "pins.released": "count",
    "pins.stage_skip_ratio": "ratio",
    "stream.batches": "count",
    "stream.trigger_ms": "ms",
    "stream.add_batch_ms": "ms",
    "stream.commit_ms": "ms",
    "stream.query_planning_ms": "ms",
    "scratch.bytes_written": "bytes",
    "scratch.files_created": "count",
    **{f"self_ms.{n}": "ms" for n in ("server.route", "templates.bind",
                                       "catalog.load_table", "builder", "exec")},
    **{f"query_s.{q}": "s" for q in wl.HEAVY_FOUR},
    **{f"overhead.{m}": "ratio" for m in E2E_UNITS},
}

# the end-to-end metric (and workload) each layer should move; a key
# is a metric name or the prefix before its first dot
LAYER_TARGETS = {
    "mem": "memory, reported only (its run-to-run spread is too wide to gate)",
    "server": "p50_ms on ingest",
    "server.lock_wait_ms": "ops_per_s and heavy_mean_ms on ingest",
    "client.p90_ms": "tail of p50_ms, reported only (too few light ops in analytics to gate)",
    "templates": "p50_ms on ingest",
    "catalog": "p50_ms on ingest",
    "plan": "p50_ms on ingest and analytics",
    "builder": "heavy_mean_ms on analytics",
    "exec": "heavy_mean_ms and ops_per_s on analytics",
    "pins": "heavy_mean_ms on analytics",
    "stream": "heavy_mean_ms on ingest",
    "scratch": "heavy_mean_ms on ingest",
    "self_ms": "p50_ms on ingest, heavy_mean_ms on analytics",
    "query_s": "heavy_mean_ms on analytics",
    "overhead": "the named metric: traced / untraced",
}


# ---------------------------------------------------------------------------
# the engine process
# ---------------------------------------------------------------------------


class Engine:
    """One engine process (`engine_proc.py`) and everything it starts.

    The process runs in its own session so that stopping it can reach
    its JVM and Python workers; its peak RSS is sampled while it runs.
    """

    def __init__(self, run_dir: str, fixture: str, mode: str, extra: list[str]):
        self.scratch = os.path.join(run_dir, "scratch")
        tmp = os.path.join(run_dir, "tmp")
        os.makedirs(self.scratch)
        os.makedirs(tmp)
        env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
        env.update(
            SPARK_GRAFT_CPUS=str(CORES),
            SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
            TMPDIR=tmp,
            JDK_JAVA_OPTIONS=f"-Djava.io.tmpdir={tmp}",
        )
        self.log = open(os.path.join(run_dir, "engine.log"), "wb")
        self.started = time.time()
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "engine_proc.py"), mode,
             "--sf-dir", fixture, "--scratch", self.scratch,
             "--cache", os.path.join(DATA, "cache"), *extra],
            cwd=run_dir,
            env=env,
            stdout=self.log,
            stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        self._peak_kb: dict[int, int] = {}
        self._stop = threading.Event()
        self._sampler = threading.Thread(target=self._sample, daemon=True)
        self._sampler.start()

    def _group_pids(self) -> list[int]:
        """Live (not zombie) processes of the engine's process group."""
        pids = []
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        stat = f.read().rsplit(")", 1)[1].split()
                except OSError:
                    continue
                if stat[0] != "Z" and int(stat[2]) == self.proc.pid:
                    pids.append(int(d))
        return pids

    def _sample(self) -> None:
        while not self._stop.wait(0.5):
            for pid in self._group_pids():
                try:
                    with open(f"/proc/{pid}/status") as f:
                        for line in f:
                            if line.startswith("VmHWM:"):
                                kb = int(line.split()[1])
                                self._peak_kb[pid] = max(self._peak_kb.get(pid, 0), kb)
                except OSError:
                    pass

    def peak_rss_mb(self) -> float:
        return sum(self._peak_kb.values()) / 1024.0

    def wait_file(self, path: str) -> None:
        deadline = time.time() + ENGINE_BOOT_TIMEOUT_S
        while not os.path.exists(path):
            if self.proc.poll() is not None or time.time() > deadline:
                raise RuntimeError(f"engine did not start; see {self.log.name}")
            time.sleep(0.02)

    def stop(self, timeout: float) -> None:
        """With a ``timeout``, SIGTERM (the server's clean shutdown,
        which writes the trace) and wait for it; then kill whatever of
        the process group is left and wait until it is gone."""
        try:
            if timeout and self.proc.poll() is None:
                self.proc.send_signal(signal.SIGTERM)
                self.proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            pass
        finally:
            self._stop.set()
            self._sampler.join()
            for _ in range(100):
                pids = self._group_pids()
                if not pids:
                    break
                for pid in pids:
                    try:
                        os.kill(pid, signal.SIGKILL)
                    except OSError:
                        pass
                time.sleep(0.05)
            self.proc.wait()
            self.log.close()


def _get(base: tuple[str, int], path: str) -> tuple[int, object]:
    conn = http.client.HTTPConnection(*base, timeout=REQUEST_TIMEOUT_S)
    try:
        conn.request("GET", path)
        resp = conn.getresponse()
        body = resp.read()
    finally:
        conn.close()
    try:
        return resp.status, json.loads(body)
    except ValueError:
        return resp.status, body[:300]


def _tagged(path: str, op_id: str) -> str:
    return f"{path}{'&' if '?' in path else '?'}token={op_id}"


def _tree_size(root: str) -> tuple[int, int]:
    size = files = 0
    for d, _, names in os.walk(root):
        for n in names:
            try:
                size += os.lstat(os.path.join(d, n)).st_size
                files += 1
            except OSError:
                pass
    return size, files


# ---------------------------------------------------------------------------
# ingest: the gateway workload
# ---------------------------------------------------------------------------


def run_ingest(ctx: dict, seed: int, seconds: float, trace: bool) -> dict:
    con = ctx["con"]
    keys = wl.FixtureKeys(con)
    n = int(30 * seconds) + 100
    client_reqs = wl.read_requests(seed, keys, wl.INGEST_READ_MIX, 2, n) + (
        wl.read_requests(seed, keys, wl.INGEST_LOCKED_MIX, 1, n)
    )
    mix = {**wl.INGEST_READ_MIX, **wl.INGEST_LOCKED_MIX}
    warm = wl.warmup_requests(seed, keys, mix)
    writes = wl.write_ops(seed)
    warm += [
        {"kind": "write", "write": True,
         "path": wl.full_output(f"/run/{name}")}
        for name in writes
    ]

    run_dir = ctx["run_dir"]
    ready = os.path.join(run_dir, "ready")
    trace_out = os.path.join(run_dir, "trace.json")
    extra = ["--ready-file", ready] + (["--trace-out", trace_out] if trace else [])
    engine = Engine(run_dir, ctx["fixture"], "gateway", extra)
    records: list[dict] = []
    lock = threading.Lock()
    counter = iter(range(10**9))

    def call(req: dict, timed: bool) -> dict:
        with lock:
            op_id = f"o{next(counter)}"
        rec = {"id": op_id, **req, "timed": timed}
        before = _tree_size(engine.scratch) if req.get("write") else None
        rec["start"] = time.time()
        try:
            rec["status"], rec["payload"] = _get(base, _tagged(req["path"], op_id))
        except (OSError, http.client.HTTPException) as exc:
            rec["status"], rec["payload"] = 0, f"{type(exc).__name__}: {exc}"
        rec["end"] = time.time()
        if before is not None:
            after = _tree_size(engine.scratch)
            rec["scratch"] = (after[0] - before[0], after[1] - before[1])
        with lock:
            records.append(rec)
        return rec

    try:
        engine.wait_file(ready)
        with open(ready) as f:
            url = f.read().strip()
        host, port = url.split("//", 1)[1].rsplit(":", 1)
        base = (host, int(port))
        for req in warm:
            call(req, timed=False)
        setup_s = time.time() - engine.started

        stop = threading.Event()

        def reader(reqs: list[dict]) -> None:
            i = 0
            while not stop.is_set():
                call(reqs[i % len(reqs)], timed=True)
                i += 1

        def writer() -> None:
            try:
                for _ in range(_rounds(seconds, CYCLE_S)):
                    for name in writes:
                        call({"kind": "write", "write": True,
                              "path": f"/run/{name}"}, timed=True)
            finally:
                stop.set()

        threads = [threading.Thread(target=reader, args=(r,)) for r in client_reqs]
        threads.append(threading.Thread(target=writer))
        t0 = time.time()
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        t1 = max(r["end"] for r in records if r["timed"])
    finally:
        engine.stop(timeout=60 if trace else 0)

    # checks, after the engine is gone
    expected: dict[str, dict] = {}
    failures = []
    for rec in records:
        if rec["path"] not in expected:
            expected[rec["path"]] = wl.expected_answer(con, rec)
        err = wl.check(rec["status"], rec["payload"], expected[rec["path"]])
        rec["ok"] = err is None
        if err:
            failures.append(f"{rec['kind']} {rec['path']}: {err}")

    timed = [r for r in records if r["timed"]]
    reads = [r for r in timed if not r.get("write")]
    writes_done = [r for r in timed if r.get("write")]
    out = {
        "e2e": {
            "setup_s": setup_s,
            "p50_ms": statistics.median(_ms(r) for r in reads),
            "ops_per_s": len(reads) / (t1 - t0),
            "heavy_mean_ms": statistics.fmean(_ms(r) for r in writes_done),
        },
        "p90_ms": _p90_ms(reads),
        "rss_mb": engine.peak_rss_mb(),
        "attempted": len(records),
        "failures": failures,
    }
    if trace:
        with open(trace_out) as f:
            tr = json.load(f)
        import spans

        layer = spans.summarize(tr, timed, (t0, t1), CORES)
        layer["scratch.bytes_written"] = statistics.fmean(r["scratch"][0] for r in writes_done)
        layer["scratch.files_created"] = statistics.fmean(r["scratch"][1] for r in writes_done)
        layer.update({f"query_s.{q}": 0.0 for q in wl.HEAVY_FOUR})  # analytics only
        out["layer"] = layer
    return out


# ---------------------------------------------------------------------------
# analytics
# ---------------------------------------------------------------------------


def run_analytics(ctx: dict, seconds: float, trace: bool) -> dict:
    run_dir = ctx["run_dir"]
    ops_file = os.path.join(run_dir, "ops.json")
    out_file = os.path.join(run_dir, "out.json")
    trace_out = os.path.join(run_dir, "trace.json")
    ops = wl.analytics_pass(ctx["seed"], wl.FixtureKeys(ctx["con"]))
    with open(ops_file, "w") as f:
        json.dump({"pass": ops, "warm_passes": WARM_PASSES, "passes": _rounds(seconds, PASS_S)}, f)
    extra = ["--ops", ops_file, "--out", out_file] + (
        ["--trace-out", trace_out] if trace else []
    )
    engine = Engine(run_dir, ctx["fixture"], "analytics", extra)
    try:
        engine.proc.wait(timeout=ENGINE_BOOT_TIMEOUT_S + 10 * seconds)
    finally:
        engine.stop(timeout=30)
    if engine.proc.returncode != 0:
        raise RuntimeError(f"analytics engine failed; see {engine.log.name}")
    with open(out_file) as f:
        res = json.load(f)
    with open(out_file + ".pkl", "rb") as f:
        outputs = pickle.load(f)  # written by engine_proc.py above

    failures = []
    by_id = {op["id"]: op for op in ops}
    for rec in res["ops"]:
        op = by_id[rec["id"].split("-", 1)[1]]
        rec["heavy"] = op["heavy"]
        err = rec.get("error")
        if err is None and rec["id"] in outputs:
            oracle = wl.oracle_frame(ctx["con"], op["name"], op["binds"], ctx["oracle_cache"])
            err = wl.check_frame(*outputs[rec["id"]], oracle)
        rec["ok"] = err is None
        if err:
            failures.append(f"{rec['id']} {op['name']}: {err}")

    timed = [r for r in res["ops"] if not r["id"].startswith("w")]
    light = [r for r in timed if not r["heavy"]]
    heavy = [r for r in timed if r["heavy"]]
    out = {
        "e2e": {
            "setup_s": res["warm"] - engine.started,
            "p50_ms": statistics.geometric_mean(_median_ms_by_name(light).values()),
            "ops_per_s": len(timed) / (res["done"] - res["warm"]),
            "heavy_mean_ms": statistics.fmean(_median_ms_by_name(heavy).values()),
        },
        "p90_ms": _p90_ms(light),
        "rss_mb": engine.peak_rss_mb(),
        "attempted": len(res["ops"]),
        "failures": failures,
    }
    if trace:
        with open(trace_out) as f:
            tr = json.load(f)
        import spans

        layer = spans.summarize(tr, timed, (res["warm"], res["done"]), CORES)
        layer["scratch.bytes_written"] = layer["scratch.files_created"] = 0.0
        for q in wl.HEAVY_FOUR:
            layer[f"query_s.{q}"] = statistics.median(
                r["end"] - r["start"] for r in timed if r["name"] == q
            )
        out["layer"] = layer
    return out


# ---------------------------------------------------------------------------


def _ms(op: dict) -> float:
    return 1000.0 * (op["end"] - op["start"])


def _p90_ms(ops: list) -> float:
    return wl.percentile([_ms(r) for r in ops], 90)


def _median_ms_by_name(ops: list) -> dict[str, float]:
    by_name: dict[str, list[float]] = {}
    for r in ops:
        by_name.setdefault(r["name"], []).append(_ms(r))
    return {n: statistics.median(v) for n, v in by_name.items()}


def _rounds(seconds: float, per_round_s: float) -> int:
    return max(1, round(seconds / per_round_s))


def fill_cache(ctx: dict) -> dict:
    """Fill the per-checkout cache with what the write ops persist (the
    dedup band index of `q_stream_dedup_ingest`) on the first ingest
    run in a checkout: each write op runs once through an in-process
    `Engine`, untimed, before the measured engine starts. (The
    analytics queries persist nothing.)"""
    marker = os.path.join(DATA, "cache", "warm-" + os.path.basename(ctx["fixture"]))
    if os.path.exists(marker):
        return {"attempted": 0, "failures": []}
    ops = [{"id": f"q{j}", "name": n, "binds": {}} for j, n in enumerate(wl.WRITE_OPS)]
    ops_file = os.path.join(ctx["run_dir"], "fill.json")
    out_file = os.path.join(ctx["run_dir"], "fill-out.json")
    with open(ops_file, "w") as f:
        json.dump({"pass": ops, "warm_passes": 0, "passes": 0}, f)
    engine = Engine(ctx["run_dir"], ctx["fixture"], "analytics",
                    ["--ops", ops_file, "--out", out_file])
    try:
        engine.proc.wait(timeout=ENGINE_BOOT_TIMEOUT_S + 300)
    finally:
        engine.stop(timeout=30)
    if engine.proc.returncode != 0:
        raise RuntimeError(f"cache fill failed; see {engine.log.name}")
    with open(out_file) as f:
        recs = json.load(f)["ops"]
    failures = [f"cache fill {r['name']}: {r['error']}" for r in recs if "error" in r]
    if not failures:
        os.makedirs(os.path.dirname(marker), exist_ok=True)
        open(marker, "w").close()
    return {"attempted": len(recs), "failures": failures}


def run_once(workload: str, seed: int, seconds: float, trace: bool | None,
             fixture: str, con) -> dict:
    """One run of ``workload``; with ``trace`` None, the cache fill
    (ingest only)."""
    run_dir = os.path.join(DATA, f"run-{os.getpid()}-{trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    ctx = {"run_dir": run_dir, "fixture": fixture, "con": con, "seed": seed,
           "oracle_cache": fixture + ".oracle"}
    try:
        if trace is None:
            return fill_cache(ctx) if workload == "ingest" else {"attempted": 0, "failures": []}
        if workload == "analytics":
            return run_analytics(ctx, seconds, trace)
        return run_ingest(ctx, seed, seconds, trace)
    finally:
        # every run starts from the same scratch state: per-run dirs go,
        # the per-checkout index cache stays (warm)
        shutil.rmtree(run_dir, ignore_errors=True)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("ingest", "analytics"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=SCALE, help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    import fixture

    os.makedirs(DATA, exist_ok=True)
    fx = fixture.ensure(DATA, args.scale)
    con = duck_con(fx)
    # in-memory copies of the fixture views, first on the search path:
    # the checks run a query per distinct request
    con.execute("CREATE SCHEMA mem")
    for t in TABLES:
        con.execute(f"CREATE TABLE mem.{t} AS SELECT * FROM main.{t}")
    con.execute("SET search_path = 'mem,main'")
    fill = run_once(args.workload, args.seed, args.seconds, None, fx, con)
    runs = [run_once(args.workload, args.seed, args.seconds, False, fx, con)]
    if args.trace:
        runs.append(run_once(args.workload, args.seed, args.seconds, True, fx, con))

    failures = [f for r in (fill, *runs) for f in r["failures"]]
    for f in failures[:50]:
        print(f"FAIL {f}", file=sys.stderr)
    if args.trace:
        base, traced = runs
        values = dict(
            traced["layer"],
            **{"mem.peak_rss_mb": base["rss_mb"], "client.p90_ms": base["p90_ms"]},
        )
        for m, v in base["e2e"].items():
            values[f"overhead.{m}"] = traced["e2e"][m] / v
        units = LAYER_UNITS
        for m, u in units.items():
            target = LAYER_TARGETS.get(m) or LAYER_TARGETS[m.split(".", 1)[0]]
            print(f"{m:32s} {values[m]:16.3f} {u:6s} -> {target}")
    else:
        values, units = runs[0]["e2e"], E2E_UNITS
    print(
        json.dumps(
            {
                "correct": not failures,
                "attempted": sum(r["attempted"] for r in (fill, *runs)),
                "failed": len(failures),
                "metrics": {m: {"value": values[m], "unit": u} for m, u in units.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
