"""Query over the custom REST-ingestion DataSource (G9 coverage).

Closes the one reference capability previously marked out of scope:
the `/ffi/<name>` external REST passthrough
(`/root/reference/index.js:327-366`). Where the reference pipes bytes
through a single Node process, `sources/restapi.py` turns paged REST
data into a parallel, prunable Spark scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from data_wrangler_spark.registry import register


@register(
    "q_rest_ingest",
    oracle="""
    SELECT i AS id,
           'item_' || CAST(i AS VARCHAR) AS name,
           CAST((i * 37) % 1000 AS DOUBLE) / 4.0 AS value
    FROM range(500, 2000) t(i)
    """,
    tags=("ext", "source", "rest"),
)
def q_rest_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parallel paged REST ingestion with source-side pruning: 8 pages
    × 250 records become 8 input partitions; the `id >= 500` predicate
    is pushed into the source (`pushFilters`), so pages 0-1 are never
    fetched — request-level pruning, the REST analog of parquet
    partition pruning. The deterministic transport stub makes the
    result exactly replayable by the oracle's `range()` arithmetic;
    `sf_dir` is unused (the source is external by definition)."""
    from data_wrangler_spark.sources.restapi import RestApiDataSource

    spark.dataSource.register(RestApiDataSource)
    return (
        spark.read.format("restapi")
        .option("pages", "8")
        .option("perpage", "250")
        .load()
        .filter(F.col("id") >= 500)
    )
