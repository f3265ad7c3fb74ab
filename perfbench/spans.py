"""Spans around calls into the engine, recorded from outside it.

`install()` replaces a handful of public functions of
`data_wrangler_spark` with wrappers that time each call, so nothing in
the package's own files changes. Each span is
``[name, start, end, parent, op]`` (wall-clock seconds, parent as an
index into the span list, op as the caller's operation id); spans stay
in memory and are written out once, when the engine stops.

Layers and the functions whose calls mark them:

| span               | wrapped call                                  |
|--------------------|-----------------------------------------------|
| server.route       | `GatewayServer.route`                         |
| server.lock_wait   | acquiring `GatewayServer._run_lock`           |
| templates.bind     | `SQLTemplates.run` (bind + Catalyst analysis) |
| catalog.load_table | `catalog.load_table`, wherever it is bound    |
| builder            | `QuerySpec.run` (the registry builder)        |
| exec               | `server._rows_json` (collect + row dicts), or |
|                    | the analytics loop's sink call                |
| pins.release       | `Engine.release_cache`                        |

Catalyst planning is not a span: a `QueryExecutionListener` reads the
planning phase from the tracker of every query execution that really
runs, and each is tied to the op that ran it (see `summarize`). That
time is also inside the exec or builder span the action ran in.
Spark's own status stores add job, stage and task counters; a
`StreamingQueryListener` adds micro-batch durations. `summarize()`
turns all of it into the per-layer metrics `run.py` prints.
"""

from __future__ import annotations

import contextlib
import functools
import json
import statistics
import sys
import threading
import time
from urllib.parse import parse_qs, urlparse

OP_TAG = "bench-op-"


class Tracer:
    """In-memory span recorder; thread-safe, one op per thread."""

    def __init__(self) -> None:
        self.spans: list[list] = []
        self.counts: list[tuple[str, str, float]] = []  # (op, name, value)
        self.stream: list[dict] = []
        self.plans: list[tuple[int, float, float]] = []  # (execution, start, end)
        self._local = threading.local()
        self._lock = threading.Lock()
        self.spark = None

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
            self._local.op = None
        return self._local.stack

    def begin(self, name: str, op: str | None = None) -> int:
        stack = self._stack()
        if op is not None:
            self._local.op = op
        rec = [name, time.time(), None, stack[-1] if stack else None, self._local.op]
        with self._lock:
            idx = len(self.spans)
            self.spans.append(rec)
        stack.append(idx)
        return idx

    def end(self, idx: int) -> None:
        self.spans[idx][2] = time.time()
        self._stack().remove(idx)

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        idx = self.begin(name, op)
        try:
            yield
        finally:
            self.end(idx)

    @contextlib.contextmanager
    def op(self, op_id: str):
        """Root span of one operation; its Spark jobs carry a job tag
        naming the op so concurrent ops stay separable."""
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sc.addJobTag(OP_TAG + op_id)
        try:
            with self.span("op", op=op_id):
                yield
        finally:
            if sc is not None:
                sc.removeJobTag(OP_TAG + op_id)
            self._local.op = None

    def count(self, name: str, value: float) -> None:
        self._stack()
        self.counts.append((self._local.op, name, value))

    def wrap(self, owner, attr: str, name: str, after=None):
        """Replace ``owner.attr`` with a span-recording wrapper;
        ``after(result)`` runs inside the caller's op once the wrapped
        call has returned."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs)
            if after is not None:
                after(out)
            return out

        setattr(owner, attr, traced)
        return traced

    def rebind(self, fn, name: str) -> None:
        """Wrap a module-level function in every engine module that
        imported it by name."""
        traced = None
        for mod_name, mod in list(sys.modules.items()):
            if not mod_name.startswith("data_wrangler_spark") or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                if val is fn:
                    if traced is None:
                        traced = self.wrap(mod, attr, name)
                    else:
                        setattr(mod, attr, traced)

    def attach(self, spark) -> None:
        """Start reading ``spark``'s status stores and listener events."""
        self.spark = spark
        _attach_stream_listener(self, spark)
        _attach_plan_listener(self, spark)

    def dump(self, path: str) -> None:
        if self.spark is not None:
            # every listener event posted so far has been delivered
            self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        out = {
            "spans": self.spans,
            "counts": self.counts,
            "stream": self.stream,
            "plans": self.plans,
            **(spark_status(self.spark) if self.spark is not None else {}),
        }
        with open(path, "w") as f:
            json.dump(out, f)


class NullTracer:
    """Tracing off: the same calls, no recording, no wrappers."""

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        yield

    op = span


class _TimedLock:
    """Stands in for `GatewayServer._run_lock`: records the wait to
    acquire it and the time it is held."""

    def __init__(self, lock, tracer: Tracer):
        self._inner = lock
        self._tracer = tracer
        self._held = threading.local()

    def __enter__(self):
        with self._tracer.span("server.lock_wait"):
            self._inner.acquire()
        self._held.idx = self._tracer.begin("server.lock_held")
        return self

    def __exit__(self, *exc) -> None:
        self._tracer.end(self._held.idx)
        self._inner.release()


def _attach_stream_listener(tracer: Tracer, spark) -> None:
    from pyspark.sql.streaming import StreamingQueryListener

    class _Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            tracer.stream.append(
                {"ts": time.time(), "id": str(p.id), "durations": dict(p.durationMs)}
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    spark.streams.addListener(_Progress())


def _attach_plan_listener(tracer: Tracer, spark) -> None:
    """Record the Catalyst planning phase of every query execution that
    ends, from its own `QueryPlanningTracker` (the listener runs on
    Spark's listener bus, after the execution)."""
    from pyspark.java_gateway import ensure_callback_server_started

    class _Planning:
        def onSuccess(self, func_name, qe, duration_ns):
            self._record(qe)

        def onFailure(self, func_name, qe, exception):
            self._record(qe)

        def _record(self, qe) -> None:
            phase = qe.tracker().phases().get("planning")
            if phase.isDefined():
                p = phase.get()
                tracer.plans.append(
                    (qe.id(), p.startTimeMs() / 1000.0, p.endTimeMs() / 1000.0)
                )

        class Java:
            implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    ensure_callback_server_started(spark.sparkContext._gateway)
    spark._jsparkSession.listenerManager().register(_Planning())


def _tag_collects(tracer: Tracer) -> None:
    """Tie each `DataFrame.collect` (how the gateway and the analytics
    warm-up read results) to the op that calls it, by the id of the
    query execution it runs."""
    from pyspark.sql.classic.dataframe import DataFrame

    collect = DataFrame.collect

    @functools.wraps(collect)
    def traced(self):
        out = collect(self)
        tracer.count("qe", self._jdf.queryExecution().id())
        return out

    DataFrame.collect = traced


def install(tracer: Tracer, server_trace_path: str | None = None) -> None:
    """Wrap the engine's public entry points. With
    ``server_trace_path``, also instrument `GatewayServer`: the op id
    comes from the request's ``token`` parameter, and the trace is
    written to that path when the server stops (before Spark stops)."""
    import data_wrangler_spark  # noqa: F401  (registers every module)
    from data_wrangler_spark import catalog, engine, registry, server
    from data_wrangler_spark.plans import templates

    _tag_collects(tracer)
    tracer.rebind(catalog.load_table, "catalog.load_table")
    tracer.wrap(templates.SQLTemplates, "run", "templates.bind")
    tracer.wrap(registry.QuerySpec, "run", "builder")
    for attr in ("list_records", "get_record", "sub_records"):
        tracer.wrap(engine.Engine, attr, "builder")
    tracer.wrap(
        engine.Engine,
        "release_cache",
        "pins.release",
        after=lambda n: tracer.count("pins.released", n),
    )
    tracer.wrap(server, "_rows_json", "exec")
    if server_trace_path is None:
        return

    gw = server.GatewayServer
    init, route, stop = gw.__init__, gw.route, gw.stop

    def traced_init(self, spark, *args, **kwargs):
        init(self, spark, *args, **kwargs)
        self._run_lock = _TimedLock(self._run_lock, tracer)
        tracer.attach(spark)

    def traced_route(self, path, method="GET", body=None):
        token = parse_qs(urlparse(path).query).get("token", [None])[-1]
        with tracer.op(token or "untagged"):
            with tracer.span("server.route"):
                return route(self, path, method=method, body=body)

    def traced_stop(self):
        stop(self)
        tracer.dump(server_trace_path)

    gw.__init__, gw.route, gw.stop = traced_init, traced_route, traced_stop


def spark_status(spark) -> dict:
    """Every retained job and stage from the AppStatusStore, as JSON
    (one JVM call each; `stageList` needs its 5-argument overload)."""
    jvm = spark._jvm
    store = spark.sparkContext._jsc.sc().statusStore()
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    mapper.registerModule(jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
    no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
    jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
    stages = json.loads(
        mapper.writeValueAsString(store.stageList(None, False, False, no_quantiles, None))
    )
    keep = (
        "stageId", "status", "numTasks", "executorRunTime", "inputBytes",
        "shuffleReadBytes", "shuffleWriteBytes", "memoryBytesSpilled",
        "diskBytesSpilled",
    )
    return {
        "jobs": [
            {
                "jobId": j["jobId"],
                "submissionTime": j["submissionTime"],
                "jobTags": j.get("jobTags") or [],
                "stageIds": j["stageIds"],
                "numSkippedStages": j["numSkippedStages"],
            }
            for j in jobs
        ],
        "stages": [{k: s[k] for k in keep} for s in stages],
    }


# ---------------------------------------------------------------------------
# per-layer summary
# ---------------------------------------------------------------------------

# layer spans whose self time is reported (time in the span minus the
# time its child spans cover)
SELF_TIME_LAYERS = (
    "server.route",
    "templates.bind",
    "catalog.load_table",
    "builder",
    "exec",
)


def _self_times(spans: list[list]) -> list[float]:
    child_time = [0.0] * len(spans)
    for name, start, end, parent, _op in spans:
        if parent is not None and end is not None:
            child_time[parent] += end - start
    return [
        max(0.0, (s[2] - s[1]) - child_time[i]) if s[2] is not None else 0.0
        for i, s in enumerate(spans)
    ]


def summarize(trace: dict, ops: list[dict], window: tuple[float, float], cores: int) -> dict:
    """Per-layer metrics over the timed ops.

    ``ops`` are the client's records (``id``, ``start``, ``end``,
    ``write``); times are per op averaged over every timed op, counts
    are per op, ratios are over the timed window."""
    ids = {o["id"] for o in ops}
    n_ops = max(1, len(ops))
    n_writes = max(1, sum(1 for o in ops if o.get("write")))
    self_all = _self_times(trace["spans"])
    keep = [i for i, s in enumerate(trace["spans"]) if s[4] in ids and s[2] is not None]
    spans = [trace["spans"][i] for i in keep]
    self_t = [self_all[i] for i in keep]

    total: dict[str, float] = {}
    calls: dict[str, int] = {}
    self_total: dict[str, float] = {}
    route_by_op: dict[str, float] = {}
    for s, st in zip(spans, self_t):
        name, dur = s[0], s[2] - s[1]
        total[name] = total.get(name, 0.0) + dur
        calls[name] = calls.get(name, 0) + 1
        self_total[name] = self_total.get(name, 0.0) + st
        if name == "server.route":
            route_by_op[s[4]] = dur

    def per_op_ms(name: str) -> float:
        return 1000.0 * total.get(name, 0.0) / n_ops

    http = [
        1000.0 * ((o["end"] - o["start"]) - route_by_op[o["id"]])
        for o in ops
        if o["id"] in route_by_op
    ]
    m: dict[str, float] = {
        "server.route_ms": per_op_ms("server.route"),
        "server.http_ms": statistics.fmean(http) if http else 0.0,
        "server.lock_wait_ms": per_op_ms("server.lock_wait"),
        "templates.bind_ms": per_op_ms("templates.bind"),
        "catalog.load_table_calls": calls.get("catalog.load_table", 0) / n_ops,
        "catalog.load_table_ms": per_op_ms("catalog.load_table"),
        "builder.ms": per_op_ms("builder"),
        "exec.ms": per_op_ms("exec"),
    }
    for name in SELF_TIME_LAYERS:
        m[f"self_ms.{name}"] = 1000.0 * self_total.get(name, 0.0) / n_ops

    # Spark jobs: owned by the op whose job tag they carry; untagged
    # jobs (stream micro-batches run on the stream's own thread) go to
    # the op whose span holds the run lock, else to the only op running
    t0, t1 = window
    jobs = [j for j in trace.get("jobs", []) if t0 <= j["submissionTime"] / 1000.0 <= t1]
    held = [s for s in spans if s[0] == "server.lock_held"]
    builders = [s for s in spans if s[0] == "builder"]
    roots = [s for s in spans if s[0] == "op"]

    def owner(job) -> str | None:
        for tag in job["jobTags"]:
            if tag.startswith(OP_TAG) and tag[len(OP_TAG):] in ids:
                return tag[len(OP_TAG):]
        t = job["submissionTime"] / 1000.0
        for pool in (held, roots):
            hits = {s[4] for s in pool if s[1] <= t <= s[2]}
            if len(hits) == 1:
                return hits.pop()
        return None

    # planning: an execution run by a tagged collect belongs to that
    # collect's op; any other to the one op whose root span holds its
    # planning phase (an execution no single op holds is left out)
    qe_op = {int(v): op for op, name, v in trace["counts"] if name == "qe"}
    plan_s = 0.0
    for qe, p0, p1 in trace.get("plans", []):
        op = qe_op.get(qe)
        if op is None:
            hits = {s[4] for s in roots if s[1] <= p0 and p1 <= s[2]}
            op = hits.pop() if len(hits) == 1 else None
        if op in ids:
            plan_s += p1 - p0
    m["plan.ms"] = 1000.0 * plan_s / n_ops

    stages = {s["stageId"]: s for s in trace.get("stages", [])}
    builder_jobs = n_stages = n_skipped = n_tasks = 0
    sums = dict.fromkeys(
        ("executorRunTime", "shuffleReadBytes", "shuffleWriteBytes", "inputBytes", "spill"), 0
    )
    owned = 0
    for job in jobs:
        op = owner(job)
        if op is None:
            continue
        owned += 1
        t = job["submissionTime"] / 1000.0
        if any(b[4] == op and b[1] <= t <= b[2] for b in builders):
            builder_jobs += 1
        n_stages += len(job["stageIds"])
        n_skipped += job["numSkippedStages"]
        for sid in job["stageIds"]:
            st = stages.get(sid)
            if st is None or st["status"] == "SKIPPED":
                continue
            n_tasks += st["numTasks"]
            sums["executorRunTime"] += st["executorRunTime"]
            sums["shuffleReadBytes"] += st["shuffleReadBytes"]
            sums["shuffleWriteBytes"] += st["shuffleWriteBytes"]
            sums["inputBytes"] += st["inputBytes"]
            sums["spill"] += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
    wall = max(1e-9, t1 - t0)
    m.update(
        {
            "builder.jobs": builder_jobs / n_ops,
            "exec.jobs": owned / n_ops,
            "exec.stages": n_stages / n_ops,
            "exec.tasks": n_tasks / n_ops,
            "exec.executor_run_ms": sums["executorRunTime"] / n_ops,
            "exec.core_utilization": sums["executorRunTime"] / 1000.0 / (wall * cores),
            "exec.shuffle_read_bytes": sums["shuffleReadBytes"] / n_ops,
            "exec.shuffle_write_bytes": sums["shuffleWriteBytes"] / n_ops,
            "exec.input_bytes": sums["inputBytes"] / n_ops,
            "exec.spill_bytes": sums["spill"] / n_ops,
            "pins.released": sum(
                v for op, name, v in trace["counts"] if op in ids and name == "pins.released"
            )
            / n_ops,
            "pins.stage_skip_ratio": n_skipped / n_stages if n_stages else 0.0,
        }
    )

    batches = [b["durations"] for b in trace["stream"] if t0 <= b["ts"] <= t1 + 1.0]
    nb = max(1, len(batches))

    def per_batch(*keys: str) -> float:
        return sum(b.get(k, 0) for b in batches for k in keys) / nb

    m.update(
        {
            "stream.batches": len(batches) / n_writes,
            "stream.trigger_ms": per_batch("triggerExecution"),
            "stream.add_batch_ms": per_batch("addBatch"),
            "stream.commit_ms": per_batch("walCommit", "commitOffsets"),
            "stream.query_planning_ms": per_batch("queryPlanning"),
        }
    )
    return m
