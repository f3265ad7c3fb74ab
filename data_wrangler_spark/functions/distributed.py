"""Two-phase replacements for single-partition global windows.

An unpartitioned ``Window.orderBy(...)`` plans as one-task WindowExec:
every row funnels through a single sort — fine at sf0.1, a straggler
at 100 TB. The classic distributed form is TWO-PHASE:

1. ``repartitionByRange`` on the ordering key (range partitioner, so
   partition i holds strictly-lower keys than partition i+1), persisted
   so every read of it sees one partitioning;
2. a per-partition count/sum/max and its prefix over earlier
   partitions — an aggregate to K rows and a window over those K rows
   (the partition count, never the data);
3. the offsets are broadcast-joined back; a PARTITION-LOCAL window
   adds the offset to the local rank/sum.

Every ordering used here carries a full pk tiebreak, so keys are
unique and the global position is well defined regardless of where
range boundaries fall. All of it is plan: building the frame starts
no Spark job, so ``describe()`` / ``explain()`` of a caller do no work.

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
    "running_agg",
    "ntile_from_position",
    "pin",
    "pin_dir",
    "pin_scope",
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
from contextlib import contextmanager as _contextmanager

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


def _unpersist_to(mark: int, blocking: bool = False) -> int:
    """Unpersist the current thread's pins beyond the first ``mark``;
    returns how many were released."""
    n = 0
    lst = _pin_list()
    while len(lst) > mark:
        try:
            lst.pop().unpersist(blocking)
            n += 1
        except Exception:
            pass  # session already stopped — nothing to release
    return n


@_contextmanager
def pin_scope():
    """Unpersist, on exit, the frames the current thread pinned inside
    the block; frames pinned before it stay pinned."""
    mark = len(_pin_list())
    try:
        yield
    finally:
        _unpersist_to(mark)


def release_pinned(blocking: bool = False) -> int:
    """Unpersist every frame the current thread pinned, then remove
    the dirs it registered with pin_dir; returns how many frames were
    released."""
    n = _unpersist_to(0, blocking)
    dirs = _pin_list("dirs")
    while dirs:
        _shutil.rmtree(dirs.pop(), ignore_errors=True)
    return n


def _range_partitioned(df: DataFrame, order_by: list[Column | str]) -> DataFrame:
    try:
        k = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        k = 32
    # persist is REQUIRED for correctness, not just speed: the offsets
    # and the partition-local window read this frame twice in one plan,
    # and each recomputation samples other range boundaries (exchange
    # reuse cannot be relied on). The persist is lazy, so no job runs
    # here; the caller's harness releases the pin (release_pinned()).
    return pin(
        df.repartitionByRange(k, *order_by)
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )


def _plus_offset(run: Column, off: Column) -> Column:
    return run + F.coalesce(off, F.lit(0))


def running_agg(
    frame: DataFrame,
    chunks: list[str],
    order_by: list[Column | str],
    val_col: str,
    out_col: str,
    agg=F.sum,
    combine=_plus_offset,
    end: int = Window.currentRow,
) -> DataFrame:
    """``out_col`` = ``agg`` (sum or max: partials merge exactly) of
    ``val_col`` over the rows up to ``end`` under ``order_by``, two-
    phase over ordered chunks. ``chunks`` is optional key columns,
    then a chunk column whose order agrees with ``order_by`` within a
    key. ``agg`` runs per chunk; the same ``agg`` over the key's
    EARLIER chunks' partials (a window over chunk rows, NULL for the
    first chunk) is broadcast back as ``_off``; the result is
    ``combine(chunk-local running agg, _off)``. The chunk column is
    dropped. Planned, never collected."""
    *keys, chunk = chunks
    start = Window.unboundedPreceding
    earlier = Window.partitionBy(*keys).orderBy(chunk).rowsBetween(start, -1)
    offs = frame.groupBy(*chunks).agg(agg(val_col).alias("_part")).select(
        *chunks, agg("_part").over(earlier).alias("_off")
    )
    local = Window.partitionBy(*chunks).orderBy(*order_by).rowsBetween(start, end)
    return (
        frame.join(F.broadcast(offs), chunks)
        .withColumn(out_col, combine(agg(val_col).over(local), F.col("_off")))
        .drop(chunk, "_off")
    )


def with_global_position(
    df: DataFrame, order_by: list[Column | str], pos_col: str = "_pos"
) -> tuple[DataFrame, Column]:
    """df + 0-based global position under ``order_by`` (which must be
    a total order — include a pk tiebreak): a two-phase running count,
    less one. Returns (df_with_pos, n_rows as a scalar subquery)."""
    rp = _range_partitioned(df.withColumn("_one", F.lit(1)), order_by)
    out = running_agg(
        rp, ["_pid"], order_by, "_one", pos_col,
        combine=lambda run, off: _plus_offset(run - 1, off),
    )
    return out.drop("_one"), rp.select(F.count(F.lit(1))).scalar()


def with_global_running_sum(
    df: DataFrame, order_by: list[Column | str], val_col: str, out_col: str
) -> DataFrame:
    """Running sum of an integral column under a total order, two-
    phase (``running_agg``). Integral values only: a fractional sum
    depends on the order its terms are added in, so partition sums
    plus a local window would not be bit-identical to the one-task
    window — fractional inputs are rejected up front."""
    val_type = dict(df.dtypes)[val_col]
    if val_type not in ("tinyint", "smallint", "int", "bigint"):
        raise TypeError(
            f"with_global_running_sum requires an integral val_col; "
            f"{val_col!r} is {val_type!r} (cast or scale to integer "
            f"micro-units first)"
        )
    rp = _range_partitioned(df, order_by)
    return running_agg(rp, ["_pid"], order_by, val_col, out_col)


def with_global_running_max(
    df: DataFrame,
    order_by: list[Column | str],
    val_col: str,
    out_col: str,
    exclusive: bool = False,
) -> DataFrame:
    """Running max under a total order, two-phase (``running_agg``).
    `greatest` ignores NULL operands, so the offset seeds later
    partitions. With ``exclusive`` the frame ends at the previous row
    (prefix-exclusive envelope — the skyline shape); the first row's
    result is NULL, exactly like the one-task window it replaces."""
    end = -1 if exclusive else Window.currentRow
    rp = _range_partitioned(df, order_by)
    return running_agg(rp, ["_pid"], order_by, val_col, out_col, F.max, F.greatest, end)


def ntile_from_position(pos: Column, n: Column, k: int) -> Column:
    """NTILE(k) as arithmetic on a 0-based global position over ``n``
    rows (a Column, e.g. with_global_position's row total): first
    n%k buckets take n//k+1 rows, the rest n//k — byte-identical to
    the window function's positional assignment. All operands
    < 2^53, so the floor-of-double divisions are exact. (n < k puts
    every row in the head; the tail's divisor is clamped to stay defined.)"""
    q = F.floor(n / k)
    r = n % k
    head = r * (q + 1)
    big = F.floor(pos / (q + 1))
    small = r + F.floor((pos - head) / F.greatest(q, F.lit(1)))
    return F.when(pos < head, big).otherwise(small).cast("int") + 1
