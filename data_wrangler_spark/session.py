"""SparkSession construction tuned for this engine.

The reference delegates all execution to a backing RDBMS
(`/root/reference/index.js:246-252`); here the SparkSession *is* the
backing engine. Defaults are chosen for local[32] testing but the same
knobs are the ones that matter on a real cluster: AQE on (runtime
re-planning, skew-join splitting, partition coalescing), shuffle
partitions sized to parallelism, UTC session time zone for
deterministic timestamp semantics, Arrow enabled for the Pandas-UDF
slow path.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

# Runtime confs every engine entry point applies even when handed a
# foreign SparkSession (e.g. the driver harness owns the session).
# All of these are settable at runtime (none are static SQL confs).
RUNTIME_CONFS: dict[str, str] = {
    # events.parquet stores timestamp[ns]; Spark's vectorized reader
    # rejects TIMESTAMP(NANOS) outright, so read as raw nanos and
    # convert explicitly (catalog.load_table handles the cast).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # DuckDB oracle timestamps are UTC-naive; pin the session TZ.
    "spark.sql.session.timeZone": "UTC",
    # Runtime re-planning: coalesce tiny shuffle partitions, split
    # skewed ones. Critical at 100 TB, harmless at sf0.01.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # AQE's broadcast decision sees ACTUAL post-shuffle sizes, so it
    # can be far more aggressive than the static estimate-based 10m
    # default: a filtered fact side that lands at tens of MB at
    # runtime converts SMJ→BHJ with local shuffle reads. Measured at
    # the f50 probe (30M-row lineitem): q_inner_join 3.38→3.05s,
    # q_join_multi 3.32→2.85s; raising the STATIC threshold instead
    # regressed q_join_multi to 4.96s (estimate-blind broadcast of a
    # 750k-row dim), so that one stays at its scale-safe default.
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "64m",
    # collect_list/collect_set run under ObjectHashAggregate, whose
    # default sort-based fallback kicks in at just 128 distinct keys
    # per task — far below any realistic partition. Raising it keeps
    # the hash path for the adjacency/posting/centroid builds; memory
    # stays bounded because per-task key count is shuffle-partitioned
    # (size spark.sql.shuffle.partitions to the data, not this knob).
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold": "1000000",
    # Scan parallelism must track FILE sizes, not the cluster default:
    # the fixtures are single ~1-50MB parquet files, so the stock 128MB
    # split packs a whole table into ONE scan task (measured: the
    # sf0.1 lineitem aggregate drops 0.56s → 0.40s at 16m). At 100 TB
    # with 128-512MB files the same knob goes back UP to 128-256m —
    # the invariant is splits ≈ row-group size so every core scans.
    "spark.sql.files.maxPartitionBytes": "16m",
}


# Size of Spark's compiled-codegen class cache (a static conf that
# get_spark's builder sets; see the comment there).
CODEGEN_CACHE_ENTRIES = 1000


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Best-effort apply engine confs to an externally built session."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf locked down — operators degrade gracefully
    return spark


@contextmanager
def shuffle_width(spark: SparkSession, n_keys: int, rows_per_task: int = 50_000):
    """Temporarily size the shuffle width to a known keyspace.

    Iterative algorithms re-shuffle a bounded keyspace (|nodes|,
    K×dim) every step; scheduling `spark.sql.shuffle.partitions`
    tasks per step when the keyspace fits in a handful is pure
    per-task overhead (measured: integer PageRank 11.3 s → 4.0 s at
    sf0.01). Width = ceil(n_keys / rows_per_task) clamped to
    [4, current] — on a 100 TB keyspace that equals the session
    setting, so this only ever narrows small intermediate steps,
    never the data path. AQE's coalescing solves the same problem
    for one-shot queries but not the per-iteration floor."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    width = max(4, min(int(prev), (n_keys + rows_per_task - 1) // rows_per_task))
    spark.conf.set("spark.sql.shuffle.partitions", str(width))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def _default_heap() -> str:
    """Local-mode heap default: min(24g, 40% of MemTotal), floor 2g.
    Conservative fallback of 8g when /proc/meminfo is unreadable."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    total_gb = int(line.split()[1]) // (1024 * 1024)
                    return f"{max(2, min(24, (total_gb * 2) // 5))}g"
    except OSError:
        pass
    return "8g"


def get_spark(app_name: str = "data_wrangler_spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) a session with engine defaults.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or all cores. Shuffle
    partitions are sized to the local parallelism — the single most
    impactful local-mode knob (the 200 default over-schedules tiny
    data and under-partitions big data).
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 4)))
        # in local mode the driver heap IS the executor heap for all
        # `cpus` task threads — 8g gave 32 CPU-bound tasks ~250 MB
        # each and measurable GC stalls on the collect_list-heavy
        # aggs (bench A/B: 24g took q_dedup_minhash 1.08→0.88s,
        # q_triangles 1.42→1.16s, headline −4%). Capped at ~40% of
        # physical RAM so the default stays safe on small hosts
        # (a fixed 24g would invite the OOM killer on a 16 GB box).
        # On a real cluster this knob is per-executor config, not here.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_heap()),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # FAIR job scheduling across concurrent submitter threads: the
        # gateway serves N HTTP handlers on ONE session, and FIFO
        # would let one large /q scan head-of-line-block every small
        # request behind it. With no pool file, each named pool
        # (gateway sets one per request thread) gets equal share.
        # Static conf — applies when this builder creates the session.
        .config("spark.scheduler.mode", "FAIR")
        # Compile each whole-stage-codegen class once per process. One
        # analytics pass (the heavy four plus the light four) generates
        # ~190 classes, so Spark's default LRU of 100 evicted the last
        # pass's classes every pass: 181 Janino recompilations per
        # pass, each run as fresh un-JIT-ed bytecode. 1000 holds the
        # analytics set 5x over (each distinct point-read key adds 2
        # classes, since codegen inlines integer literals). Each cached
        # class costs ~45 KB of Metaspace (a full registry pass at
        # sf0.001 compiles ~3,400 classes, Metaspace 77 -> 220-239 MB),
        # so 1000 entries bound the growth to ~50 MB. Static conf: it
        # applies only when this builder creates the session, and a
        # foreign session keeps its own value.
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # No PySpark call-site capture. With it on, every F.* / Column
        # call adds ~5 py4j round trips (active session, origin lookup,
        # conf get, set, clear); off, a warm q_agg_groupby run at
        # sf0.01 makes 165 py4j calls instead of 665. The capture only
        # names the Python line in an error's DataFrame context.
        # PySpark reads the flag once per process from the first
        # active session, so a foreign session the process started
        # with keeps its own value.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.ui.enabled", "false")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return apply_runtime_confs(spark)


ROCKSDB_STATE_STORE_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


@contextmanager
def rocksdb_state_store(spark: SparkSession):
    """Run streaming queries under the RocksDB state-store provider.

    The default HDFS-backed provider keeps every state row on the JVM
    heap — fine for bounded test streams, an OOM risk for the
    large-state operators at 100 TB (session windows over millions of
    users, dedup keys over a day's events). RocksDB spills state to
    local disk with incremental checkpointing; this context flips
    ``spark.sql.streaming.stateStore.providerClass`` for queries
    STARTED inside it (the provider is bound per query at first
    checkpoint, so already-running queries are unaffected)."""
    key = "spark.sql.streaming.stateStore.providerClass"
    try:
        prev = spark.conf.get(key)
    except Exception:
        prev = None
    spark.conf.set(key, ROCKSDB_STATE_STORE_PROVIDER)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
