"""Two-phase replacements for single-partition global windows.

An unpartitioned ``Window.orderBy(...)`` plans as one-task WindowExec:
every row funnels through a single sort — fine at sf0.1, a straggler
at 100 TB. The classic distributed form is TWO-PHASE:

1. ``repartitionByRange`` on the ordering key (range partitioner, so
   partition i holds strictly-lower keys than partition i+1);
2. one tiny job collects per-partition counts/sums (K scalars — the
   partition count, never the data);
3. cumulative offsets broadcast back; a PARTITION-LOCAL window adds
   the offset to the local rank/sum.

Every ordering used here carries a full pk tiebreak, so keys are
unique and the global position is well defined regardless of where
range boundaries fall. The K-row collect is bounded by the shuffle
partition count — this is not a data collect.

ntile is then pure arithmetic on (position, n): with q = n div k and
r = n mod k, the first r buckets get q+1 rows — identical to the
window function's positional definition, so oracles keep plain NTILE.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

__all__ = [
    "with_global_position",
    "with_global_running_sum",
    "with_global_running_max",
    "ntile_from_position",
    "pin",
    "pin_dir",
    "release_pinned",
    "release_local_checkpoint",
    "spread",
]


def release_local_checkpoint(df: DataFrame) -> bool:
    """Free the cached RDD blocks behind a ``localCheckpoint()``-ed
    frame (ADVICE r16 #3: checkpoint blocks live until session end,
    so a K-round loop that checkpoints per round leaks K small cached
    datasets in a long-lived session). The frame is UNUSABLE after
    release — call this only once nothing references it (e.g. the
    previous round of an iterative loop, after the next round's
    checkpoint has materialized). Returns False (and leaves the
    blocks alone) if the frame is not a plain local checkpoint."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if not plan.getClass().getName().endswith(".LogicalRDD"):
            return False
        plan.rdd().unpersist(False)
        return True
    except Exception:
        return False  # non-JVM session / already released — best effort


def spread(df: DataFrame, *keys: str) -> DataFrame:
    """Widen a NARROW scan before CPU-heavy per-row compute.

    A small parquet table arrives as one input split, so everything
    narrow downstream (per-doc md5 shingling, minhash folds) runs as
    ONE task no matter how many cores the cluster has — measured: the
    whole minhash signature stage on 1 of 32 cores at sf0.1. This
    repartitions up to the session shuffle width, but ONLY when the
    plan is narrower than that: at 100 TB the scan already yields
    thousands of splits and this is a no-op (no shuffle inserted), so
    it cannot regress the at-scale plan. Keys (e.g. the doc pk) keep
    the exchange a plain hash partitioning that downstream joins can
    reuse; without keys it's round-robin.
    """
    try:
        n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        # e.g. "auto" under AQE-managed platforms — the widening
        # heuristic must never turn into a hard failure; such
        # platforms pick shuffle width themselves anyway.
        return df
    if df.rdd.getNumPartitions() >= n_part:
        return df
    return df.repartition(n_part, *keys) if keys else df.repartition(n_part)

# Persisted frames pinned by operator builders. A registered query
# returns a LAZY DataFrame, so the builder itself can never unpersist
# (the cache must survive until the caller materializes the result).
# Builders pin instead; harness loops / long-lived sessions call
# release_pinned() after materialization (bench.py, verify_local,
# Engine.release_cache) so cached partitions don't accumulate across
# many queries in one session.
#
# The pin list is PER-THREAD (r16): a threaded gateway serves
# concurrent requests from distinct handler threads, and each
# request's build-pin → materialize → release lifecycle must own a
# disjoint pin set — with one process-global list, request A's
# release would unpersist request B's still-needed frame mid-query.
# Single-threaded harnesses (bench.py, verify_local) see the exact
# old behavior: their thread's list is the only one.
#
# A builder whose result reads a per-call scratch dir lazily (the
# foreachBatch sink ops) cannot delete that dir either; it registers
# the dir beside the pins and release_pinned() removes it.
import shutil as _shutil
import threading as _threading

_PIN_TL = _threading.local()


def _pin_list(kind: str = "pinned") -> list:
    lst = getattr(_PIN_TL, kind, None)
    if lst is None:
        lst = []
        setattr(_PIN_TL, kind, lst)
    return lst


def pin(df: DataFrame) -> DataFrame:
    """Track an already-persisted frame for later bulk release (by
    the CURRENT thread — see the per-thread note above)."""
    _pin_list().append(df)
    return df


def pin_dir(path: str) -> str:
    """Track a per-call output dir that the current thread's next
    release_pinned() removes; returns ``path``."""
    _pin_list("dirs").append(path)
    return path


def pinned_frames() -> list[DataFrame]:
    """The current thread's pinned frames (read-only snapshot)."""
    return list(_pin_list())


def release_pinned(blocking: bool = False) -> int:
    """Unpersist every frame the current thread pinned, then remove
    the dirs it registered with pin_dir; returns how many frames were
    released."""
    n = 0
    lst = _pin_list()
    while lst:
        try:
            lst.pop().unpersist(blocking)
            n += 1
        except Exception:
            pass  # session already stopped — nothing to release
    dirs = _pin_list("dirs")
    while dirs:
        _shutil.rmtree(dirs.pop(), ignore_errors=True)
    return n


def _range_partitioned(df: DataFrame, order_by: list[Column | str]):
    spark = df.sparkSession
    try:
        k = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        k = 32
    # persist is REQUIRED for correctness here, not just speed: the
    # per-partition offset job and the final window job must see the
    # same range-partition boundaries (repartitionByRange samples), so
    # the shuffled frame is pinned and released by the caller's
    # harness via release_pinned().
    rp = pin(
        df.repartitionByRange(k, *order_by)
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    return spark, k, rp


def with_global_position(
    df: DataFrame, order_by: list[Column | str], pos_col: str = "_pos"
) -> tuple[DataFrame, int]:
    """df + 0-based global position under ``order_by`` (which must be
    a total order — include a pk tiebreak), computed without a global
    sort. Returns (df_with_pos, n_rows)."""
    spark, k, rp = _range_partitioned(df, order_by)
    counts = {r["_pid"]: r["c"] for r in rp.groupBy("_pid").agg(F.count("*").alias("c")).collect()}
    offs, acc = [], 0
    for p in range(k):
        offs.append((p, acc))
        acc += counts.get(p, 0)
    off_df = spark.createDataFrame(offs, "_pid int, _off long")
    w = Window.partitionBy("_pid").orderBy(*order_by)
    out = (
        rp.join(F.broadcast(off_df), "_pid")
        .withColumn(pos_col, F.row_number().over(w) - 1 + F.col("_off"))
        .drop("_pid", "_off")
    )
    return out, acc


def with_global_running_sum(
    df: DataFrame, order_by: list[Column | str], val_col: str, out_col: str
) -> DataFrame:
    """Running sum of an integral column under a total order, two-
    phase: per-partition sums roll into broadcast offsets, the local
    window adds them. (Integral values only — offsets round-trip
    through driver Python, so fractional inputs would be silently
    truncated; reject them up front.)"""
    val_type = dict(df.dtypes)[val_col]
    if val_type not in ("tinyint", "smallint", "int", "bigint"):
        raise TypeError(
            f"with_global_running_sum requires an integral val_col; "
            f"{val_col!r} is {val_type!r} (cast or scale to integer "
            f"micro-units first)"
        )
    spark, k, rp = _range_partitioned(df, order_by)
    sums = {
        r["_pid"]: r["s"]
        for r in rp.groupBy("_pid").agg(F.sum(val_col).alias("s")).collect()
    }
    offs, acc = [], 0
    for p in range(k):
        offs.append((p, acc))
        acc += int(sums.get(p) or 0)
    off_df = spark.createDataFrame(offs, "_pid int, _off long")
    w = (
        Window.partitionBy("_pid")
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        rp.join(F.broadcast(off_df), "_pid")
        .withColumn(out_col, F.sum(val_col).over(w) + F.col("_off"))
        .drop("_pid", "_off")
    )


def with_global_running_max(
    df: DataFrame,
    order_by: list[Column | str],
    val_col: str,
    out_col: str,
    exclusive: bool = False,
) -> DataFrame:
    """Running max under a total order, two-phase: per-partition
    maxima roll into prefix offsets (max over all PRECEDING range
    partitions), the partition-local window takes `greatest` of the
    local frame and the offset. With ``exclusive`` the frame ends at
    the previous row (prefix-exclusive envelope — the skyline shape);
    the first row's result is NULL, exactly like the one-task
    window it replaces."""
    spark, k, rp = _range_partitioned(df, order_by)
    maxes = {
        r["_pid"]: r["m"]
        for r in rp.groupBy("_pid").agg(F.max(val_col).alias("m")).collect()
    }
    offs, run = [], None
    for p in range(k):
        offs.append((p, run))
        m = maxes.get(p)
        if m is not None:
            run = m if run is None else max(run, m)
    val_type = dict(df.dtypes)[val_col]
    off_df = spark.createDataFrame(offs, f"_pid int, _off {val_type}")
    end = -1 if exclusive else Window.currentRow
    w = (
        Window.partitionBy("_pid")
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, end)
    )
    return (
        rp.join(F.broadcast(off_df), "_pid")
        # greatest() ignores NULL operands, so the offset seeds later
        # partitions and the global first row stays NULL (exclusive)
        .withColumn(out_col, F.greatest(F.max(val_col).over(w), F.col("_off")))
        .drop("_pid", "_off")
    )


def ntile_from_position(pos: Column, n: int, k: int) -> Column:
    """NTILE(k) as arithmetic on a 0-based global position over n
    rows: first n%k buckets take n//k+1 rows, the rest n//k —
    byte-identical to the window function's positional assignment.
    All operands < 2^53, so the floor-of-double division is exact."""
    q, r = divmod(n, k)
    head = r * (q + 1)
    big = F.floor(pos / (q + 1))
    small = r + F.floor((pos - head) / q) if q else F.lit(0)
    return F.when(pos < head, big).otherwise(small).cast("int") + 1
