"""Isolated median timing for individual queries (guide §1).

Runs each named query once unmeasured (warmup) then N measured runs
(noop sink, pinned frames released after the measured block), and
prints median + spread, plus how many whole-stage-codegen classes
Janino compiled during the measured runs (a warm query that keeps
compiling is thrashing Spark's codegen class cache) and the median
number of py4j round trips per measured run (each costs a fixed
fraction of a millisecond, so a builder that makes thousands of them
pays for it in the builder layer), and the median number of Spark
jobs each measured run started before its builder returned (a builder
should only plan; each job costs tens of ms). Use this to claim
before/after numbers for one operator without a full sweep's
ordering/contention noise.

Usage: python tools/isolate.py [-n RUNS] QUERY [QUERY ...]
       (data dir from $SPARK_GRAFT_SF_DIR, default /root/testdata/sf0.1)
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    args = sys.argv[1:]
    n = 5
    if args and args[0] == "-n":
        n = int(args[1])
        args = args[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from data_wrangler_spark.session import get_spark
    from data_wrangler_spark import REGISTRY
    from data_wrangler_spark.functions.distributed import release_pinned

    spark = get_spark("isolate")
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    # count py4j round trips by wrapping the one client every JVM call
    # goes through; the detach commands py4j sends when Python's
    # collector frees a JVM reference land in whichever phase the
    # collector runs in, so they are not counted
    from py4j import protocol

    client = spark.sparkContext._gateway._gateway_client
    send_command = client.send_command
    py4j_calls = [0]
    detach = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME

    def counting_send_command(command, *a, **kw):
        if not command.startswith(detach):
            py4j_calls[0] += 1
        return send_command(command, *a, **kw)

    client.send_command = counting_send_command
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    for name in args:
        spark.sparkContext.setJobDescription(f"isolate warmup: {name}")
        REGISTRY[name].run(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        runs = []
        calls = []
        c0 = compiles.getCount()
        groups = []
        for i in range(n):
            groups.append(f"isolate-{os.getpid()}-{name}-{i}")
            sc.setJobGroup(groups[-1], f"isolate {i}: {name} (builder)")
            p0 = py4j_calls[0]
            t0 = time.perf_counter()
            df = REGISTRY[name].run(spark, sf_dir)
            sc.setJobGroup(groups[-1] + "-exec", f"isolate {i}: {name}")
            df.write.format("noop").mode("overwrite").save()
            runs.append(round(time.perf_counter() - t0, 4))
            calls.append(py4j_calls[0] - p0)
        compilations = compiles.getCount() - c0
        release_pinned()
        # the status store is fed asynchronously and in order: once the
        # last run's write is visible, every builder job is too
        while not tracker.getJobIdsForGroup(groups[-1] + "-exec"):
            time.sleep(0.05)
        rec = {
            "query": name,
            "median": round(statistics.median(runs), 4),
            "compilations": compilations,
            "py4j_calls": statistics.median(calls),
            "builder_jobs": statistics.median(
                len(tracker.getJobIdsForGroup(g)) for g in groups
            ),
            "runs": runs,
        }
        print(json.dumps(rec))
    return 0


if __name__ == "__main__":
    sys.exit(main())
