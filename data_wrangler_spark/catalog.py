"""Catalog: named tables over Parquet + identifier validation.

Replaces two reference components with strictly stronger Spark-native
equivalents (SURVEY.md §1.5, §7.3):

- the per-database connection map / table namespace
  (`/root/reference/index.js:52,93-128`, `config.json:11-40`) becomes
  a set of named DataFrames over Parquet registered as temp views;
- the regex-based identifier defense
  (`/root/reference/lib/examiner.js:37-41,70-80,162-196`) becomes
  validation against the actual catalog schema: an identifier is legal
  iff it names a known table/column. No string splicing ever reaches
  SQL (the reference's `util.format('select * from %s …')` at
  `index.js:482` is the anti-pattern this replaces).
"""

from __future__ import annotations

import os
import stat
import threading

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from data_wrangler_spark.session import apply_runtime_confs

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Primary key per table — the unique tiebreaker appended to every
# ordered/paginated query (SURVEY.md §7.3: Spark guarantees nothing
# about LIMIT/OFFSET determinism without a total order).
PRIMARY_KEYS: dict[str, str] = {
    "region": "r_regionkey",
    "nation": "n_nationkey",
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    "part": "p_partkey",
    "orders": "o_orderkey",
    "lineitem": "l_orderkey",  # composite with l_linenumber; see pk_cols
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}

# Parent→child foreign-key conventions, the engine-level analog of the
# reference's `<parent>_id` naming convention (`index.js:575`).
FK_CONVENTIONS: dict[tuple[str, str], str] = {
    ("orders", "lineitem"): "l_orderkey",
    ("customer", "orders"): "o_custkey",
    ("nation", "supplier"): "s_nationkey",
    ("nation", "customer"): "c_nationkey",
    ("region", "nation"): "n_regionkey",
    ("part", "lineitem"): "l_partkey",
    ("supplier", "lineitem"): "l_suppkey",
}


def pk_cols(table: str) -> list[str]:
    if table == "lineitem":
        return ["l_orderkey", "l_linenumber"]
    return [PRIMARY_KEYS[table]]


class UnknownIdentifierError(ValueError):
    """Raised when a dynamic table/column identifier fails validation."""


# Parquet schema per table file, inferred once per file version.
# Inferring a schema runs a Spark job (a parquet footer read, tens of
# ms per call); reading with the schema passed in runs none. Only the
# StructType is kept, never a DataFrame: every load_table call builds
# a new relation with fresh attribute ids and a fresh file listing, so
# two loads of one table self-join correctly and no caller sees a
# stale plan. A cached schema is used only while the file's version
# is unchanged: (mtime_ns, size) of the file, or of every file under
# it when the table is a directory of parts, so a rewrite, a replace
# or an added part infers again. One entry per absolute path; two
# threads missing at once both infer and store the same answer.
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def _file_version(path: str) -> tuple:
    st = os.stat(path)
    if not stat.S_ISDIR(st.st_mode):
        return (st.st_mtime_ns, st.st_size)
    version = []
    for root, _, files in os.walk(path):
        for f in files:
            fp = os.path.join(root, f)
            fst = os.stat(fp)
            version.append((os.path.relpath(fp, path), fst.st_mtime_ns, fst.st_size))
    return tuple(sorted(version))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one named table from ``{sf_dir}/{name}.parquet``.

    Timestamp handling: current fixtures store TIMESTAMP(MICROS,
    isAdjustedToUTC=false), which Spark reads as TIMESTAMP_NTZ —
    matching DuckDB's naive TIMESTAMP exactly. Older fixture layouts
    stored ``events.ts`` as TIMESTAMP(NANOS), which Spark's reader
    rejects; with ``nanosAsLong`` it arrives as raw int64 nanos and
    the branch below converts it to a microsecond timestamp. Both
    paths yield the same wall-clock values under the UTC session TZ.
    """
    if name not in TABLES:
        raise UnknownIdentifierError(f"unknown table: {name!r}")
    apply_runtime_confs(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    key = os.path.abspath(path)
    try:
        version = _file_version(key)
    except OSError:
        version = None  # missing or non-local path: Spark reports it
    cached = _SCHEMAS.get(key)
    if cached is not None and cached[0] == version:
        df = spark.read.schema(cached[1]).parquet(path)
    else:
        df = spark.read.parquet(path)
        if version is not None:
            _SCHEMAS[key] = (version, df.schema)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return df


class Catalog:
    """Named-table catalog bound to one (spark, sf_dir) pair.

    ``table`` loads on the caller's session. SQL templates run on a
    session the catalog owns (``register_views``), where its ten tables
    are registered as temp views once: no other code writes into that
    namespace, so two catalogs over different fixture dirs never
    clobber each other's views and a caller's own views on ``spark``
    are never overwritten."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        self.spark = spark
        self.sf_dir = sf_dir
        self._cache: dict[str, DataFrame] = {}
        self._views: SparkSession | None = None
        self._views_lock = threading.Lock()

    def table(self, name: str) -> DataFrame:
        if name not in self._cache:
            self._cache[name] = load_table(self.spark, self.sf_dir, name)
        return self._cache[name]

    # -- identifier validation (replaces examiner.js regex defense) --

    def validate_table(self, name: str) -> str:
        if name not in TABLES:
            raise UnknownIdentifierError(f"unknown table: {name!r}")
        return name

    def validate_column(self, table: str, column: str) -> str:
        self.validate_table(table)
        cols = set(self.table(table).columns)
        if column not in cols:
            raise UnknownIdentifierError(
                f"unknown column {column!r} on table {table!r} (has: {sorted(cols)})"
            )
        return column

    def register_views(self) -> SparkSession:
        """Return the catalog's own session, where every table is a
        temp view so queries can use ``sql``.

        The first call builds it: ``spark.newSession()`` (shared
        SparkContext, cache and job scheduling; its own temp views and
        SQL conf) with the engine's runtime confs, then one
        ``createOrReplaceTempView`` per table. The session is published
        only after every view is registered, so a missing table fails
        that call and the next call tries again; later calls register
        nothing."""
        if self._views is None:
            with self._views_lock:
                if self._views is None:
                    session = apply_runtime_confs(self.spark.newSession())
                    for name in TABLES:
                        load_table(session, self.sf_dir, name).createOrReplaceTempView(name)
                    self._views = session
        return self._views
