"""Driver contract for the spark-graft builder (PySpark target).

Thin wrapper over the engine package: the registry in
``data_wrangler_spark.registry`` is the single source of truth for
the declared query inventory (SURVEY.md §2.5); this module adapts it
to the driver's ``entry`` / ``queries`` / ``oracle_sql`` contract.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

import data_wrangler_spark as dws
from data_wrangler_spark.session import apply_runtime_confs

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (D7 inner equi-join, the reference's richest
    query shape — config.json:36) on sf0.001; driver checks rows>0.
    The caller owns ``spark``: the engine's runtime confs are applied
    to it here, once."""
    return dws.REGISTRY["q_inner_join"].run(apply_runtime_confs(spark), SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return dws.queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle per query (omitted → rows-only)."""
    return dws.oracle_sql()
