"""Named-query registry — the engine's catalog of query templates.

This is the Spark-native replacement for the reference's config-defined
query catalog and route synthesis (`/root/reference/config.json:19-24`,
`/root/reference/index.js:93-128,264-325`): each registered name maps
to a builder callable ``(spark, sf_dir, **params) -> DataFrame`` plus
an optional ANSI-SQL oracle string for the DuckDB correctness harness.

Where the reference bound parameters by handlebars string expansion
(`lib/examiner.js:198-208`), builders here take real keyword arguments
with declared defaults; values flow through the DataFrame API or
``spark.sql(..., args=...)`` binding — never string splicing.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from data_wrangler_spark.session import apply_runtime_confs


@dataclass(frozen=True)
class QuerySpec:
    name: str
    builder: Callable[..., DataFrame]
    oracle: str | None  # ANSI SQL for DuckDB, or None → rows-only check
    # "stream" / "eager": the builder runs its stream / other Spark
    # jobs before returning; any other builder only plans
    tags: tuple[str, ...] = ()
    defaults: dict[str, Any] = field(default_factory=dict)
    doc: str = ""
    # optional multi-statement DuckDB script computing the SAME result
    # as `oracle`, restructured for the oracle ENGINE's sake (e.g. a
    # temp-table edge list so DuckDB 1.0 doesn't re-evaluate a heavy
    # CTE inside every recursive-CTE iteration). The local sweep
    # (tools/verify_local.py) prefers it; the driver contract
    # (oracle_sql()) still exports the single-statement `oracle`.
    oracle_sweep: str | None = None

    def run(self, spark: SparkSession, sf_dir: str, **params: Any) -> DataFrame:
        kwargs = {**self.defaults, **params}
        return self.builder(spark, sf_dir, **kwargs)


REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
    oracle_sweep: str | None = None,
    **defaults: Any,
) -> Callable[[Callable[..., DataFrame]], Callable[..., DataFrame]]:
    """Decorator: register a query builder under ``name``.

    The builder signature is ``(spark, sf_dir, **params)``; ``defaults``
    supplies the parameter values the driver harness runs with (the
    harness calls with no params).
    """

    def deco(fn: Callable[..., DataFrame]) -> Callable[..., DataFrame]:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = QuerySpec(
            name=name,
            builder=fn,
            oracle=oracle,
            tags=tuple(tags),
            defaults=dict(defaults),
            doc=(fn.__doc__ or "").strip(),
            oracle_sweep=oracle_sweep,
        )
        return fn

    return deco


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Driver-harness contract: name → (spark, sf_dir) -> DataFrame.

    The harness owns its session, so each call applies the engine's
    runtime confs to it before building (table loads do not)."""

    def make(spec: QuerySpec) -> Callable[[SparkSession, str], DataFrame]:
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            return spec.run(apply_runtime_confs(spark), sf_dir)

        run.__name__ = f"run_{spec.name}"
        run.__doc__ = spec.doc
        return run

    return {name: make(spec) for name, spec in sorted(REGISTRY.items())}


def oracle_sql() -> dict[str, str]:
    """Driver-harness contract: name → DuckDB-runnable ANSI SQL."""
    return {
        name: spec.oracle
        for name, spec in sorted(REGISTRY.items())
        if spec.oracle is not None
    }
