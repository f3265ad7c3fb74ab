"""Scalar-function queries (SURVEY.md §2.4 "Scalar functions").

The reference computes nothing locally (its examineQuery merely
*tolerates* function calls in SELECT lists, lib/examiner.js:88-109).
One representative query per function family, all JVM-side `F.*`
built-ins — zero Python in the row path, so every expression stays
inside whole-stage codegen.

Oracle parity notes: DuckDB's year()/len()/datediff() return BIGINT
where Spark returns INT — each oracle casts to Spark's type. Rounding
(Spark HALF_UP vs DuckDB half-away-from-zero) agrees for positive
values; all rounded expressions here are positive.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from data_wrangler_spark.catalog import load_table
from data_wrangler_spark.functions.vectors import micro_csv, sql_micro_csv
from data_wrangler_spark.registry import register


@register(
    "q_str_funcs",
    oracle="""
    SELECT p_partkey,
           upper(p_brand)                         AS brand_upper,
           substring(p_name, 1, 12)               AS name_prefix,
           concat(p_brand, ':', p_type)           AS brand_type,
           trim(p_name)                           AS name_trim,
           (p_type LIKE '%BRASS%')                AS is_brass,
           regexp_extract(p_name, '^(\\w+)', 1)   AS first_word,
           CAST(length(p_name) AS INT)            AS name_len,
           replace(p_brand, '#', '-')             AS brand_dash
    FROM part
    """,
    tags=("ext", "scalar"),
)
def q_str_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String family: upper/substring/concat/trim/LIKE/regexp_extract/
    length/replace over part."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_upper"),
        F.substring("p_name", 1, 12).alias("name_prefix"),
        F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
        F.trim("p_name").alias("name_trim"),
        F.col("p_type").like("%BRASS%").alias("is_brass"),
        F.regexp_extract("p_name", r"^(\w+)", 1).alias("first_word"),
        F.length("p_name").alias("name_len"),
        F.replace(F.col("p_brand"), F.lit("#"), F.lit("-")).alias("brand_dash"),
    )


@register(
    "q_date_funcs",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INT)                      AS order_year,
           CAST(month(o_orderdate) AS INT)                     AS order_month,
           CAST(day(o_orderdate) AS INT)                       AS order_day,
           CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
           CAST(datediff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) AS INT)
                                                               AS days_since_95,
           CAST(o_orderdate AS DATE) + 30                      AS due_date,
           CAST(dayofweek(o_orderdate) AS INT)                 AS order_dow
    FROM orders
    """,
    tags=("ext", "scalar"),
)
def q_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date family: year/month/day/date_trunc/datediff/date_add/
    dayofweek over orders. (DuckDB dayofweek is 0-based Sunday;
    Spark's is 1-based Sunday — oracle uses dayofweek+... both
    engines: DuckDB dayofweek(Sunday)=0, Spark dayofweek(Sunday)=1,
    so the Spark side subtracts 1.)"""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.dayofmonth("o_orderdate").alias("order_day"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        F.datediff(
            F.col("o_orderdate"), F.lit("1995-01-01 00:00:00").cast("timestamp_ntz")
        ).alias("days_since_95"),
        F.date_add(F.col("o_orderdate").cast("date"), 30).alias("due_date"),
        (F.dayofweek("o_orderdate") - F.lit(1)).alias("order_dow"),
    )


@register(
    "q_math_funcs",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) / 100 AS net_price,
           abs(l_discount - 0.05)                       AS disc_dev,
           sqrt(l_quantity)                             AS qty_sqrt,
           CAST(ln(l_extendedprice) AS REAL)            AS price_ln,
           power(l_quantity, 2)                         AS qty_sq,
           CAST(floor(l_extendedprice) AS BIGINT)       AS price_floor,
           CAST(ceil(l_extendedprice) AS BIGINT)        AS price_ceil,
           CAST(l_quantity AS INT) % 7                  AS qty_mod
    FROM lineitem
    """,
    tags=("ext", "scalar"),
)
def q_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math family: round/abs/sqrt/ln/pow/floor/ceil/mod. All IEEE
    double ops — deterministic per row in both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        # round-half-up via floor(x*100+0.5)/100: Spark's F.round goes
        # through the decimal *string* repr (HALF_UP on "x.xx5") while
        # DuckDB rounds the binary double — they disagree on boundary
        # values. The floor formulation is identical IEEE arithmetic in
        # both engines.
        (F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + 0.5).cast("double") / 100).alias("net_price"),
        F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
        F.sqrt("l_quantity").alias("qty_sqrt"),
        # float32-rounded: JVM Math.log and C libm log differ by a ULP
        # on some inputs (neither is correctly-rounded); float rounding
        # absorbs the difference for oracle parity.
        F.log(F.col("l_extendedprice")).cast("float").alias("price_ln"),
        F.pow("l_quantity", F.lit(2)).alias("qty_sq"),
        F.floor("l_extendedprice").alias("price_floor"),
        F.ceil("l_extendedprice").alias("price_ceil"),
        (F.col("l_quantity").cast("int") % 7).alias("qty_mod"),
    )


@register(
    "q_array_funcs",
    oracle=f"""
    SELECT vec_id,
           CAST(len(embedding) AS INT)                                   AS dim,
           embedding[1]                                                  AS first_val,
           list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                       (a, b) -> a + b)                                  AS vec_sum,
           {sql_micro_csv('embedding[1:3]')}                             AS head3,
           list_contains(list_transform(embedding, x -> CAST(x AS DOUBLE) > 0), true)
                                                                         AS has_positive
    FROM embeddings
    """,
    tags=("ext", "scalar", "array"),
)
def q_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array family over the embedding column: size/element_at/
    aggregate (sequential fold — same element order in both engines)/
    slice/exists. These are the primitives the similarity operators
    build on."""
    e = load_table(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.element_at("embedding", 1).alias("first_val"),
        F.aggregate(
            "embedding", F.lit(0.0), lambda acc, x: acc + x.cast("double")
        ).alias("vec_sum"),
        # fixed-point CSV, not a raw array: the driver harness hashes
        # cells and can't canonicalize list values (see micro_csv).
        micro_csv(F.slice("embedding", 1, 3)).alias("head3"),
        F.exists("embedding", lambda x: x.cast("double") > 0).alias("has_positive"),
    )


@register(
    "q_array_explode",
    oracle="""
    SELECT vec_id, CAST(i - 1 AS INT) AS pos, embedding[i] AS val
    FROM embeddings, (SELECT unnest([1, 2, 3]) AS i)
    """,
    tags=("ext", "scalar", "array"),
)
def q_array_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode: array elements to rows with their ordinal — the
    row-expansion primitive (here bounded to the first 3 dims so the
    output stays oracle-sized)."""
    e = load_table(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id", F.posexplode(F.slice("embedding", 1, 3)).alias("pos", "val")
    )


@register(
    "q_text_scrub",
    oracle="""
    SELECT event_id,
           regexp_replace(props, '[0-9]+', '<NUM>', 'g') AS props_scrubbed,
           (regexp_replace(props, '[0-9]+', '<NUM>', 'g') <> props) AS was_scrubbed
    FROM events
    """,
    tags=("llm", "text"),
)
def q_text_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-style scrubbing: numeric tokens redacted via regex — the
    shape of redaction passes over training corpora (Spark
    regexp_replace is global; DuckDB needs the 'g' flag)."""
    ev = load_table(spark, sf_dir, "events")
    scrubbed = F.regexp_replace("props", r"[0-9]+", "<NUM>")
    return ev.select(
        "event_id",
        scrubbed.alias("props_scrubbed"),
        (scrubbed != F.col("props")).alias("was_scrubbed"),
    )


@register(
    "q_map_funcs",
    oracle="""
    SELECT p_partkey,
           p_brand   AS brand_val,
           p_type    AS type_val,
           2         AS n_keys,
           true      AS has_brand
    FROM part
    """,
    tags=("ext", "scalar", "map"),
)
def q_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map family: build a map from columns, then read it back via
    element_at/map_keys/map_contains_key. The oracle states the
    round-trip identity in plain columns (DuckDB map syntax differs;
    the *values* are what the harness compares)."""
    p = load_table(spark, sf_dir, "part")
    m = F.create_map(
        F.lit("brand"), F.col("p_brand"), F.lit("type"), F.col("p_type")
    )
    return p.select(
        "p_partkey",
        F.element_at(m, "brand").alias("brand_val"),
        F.element_at(m, "type").alias("type_val"),
        F.size(F.map_keys(m)).alias("n_keys"),
        F.map_contains_key(m, "brand").alias("has_brand"),
    )


@register(
    "q_json_funcs",
    oracle="""
    SELECT event_id,
           json_extract_string(props, '$.k')            AS k_str,
           CAST(json_extract(props, '$.k') AS INT)      AS k_int,
           (json_extract(props, '$.k') IS NOT NULL)     AS has_k,
           (CAST(json_extract(props, '$.k') AS INT) > 50) AS k_gt_50
    FROM events
    """,
    tags=("ext", "scalar", "json"),
)
def q_json_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON family over events.props (a JSON string column):
    get_json_object for ad-hoc path extraction, from_json with an
    explicit schema for typed access — the scale-correct pattern
    (schema known → columnar struct, no per-row re-parse)."""
    ev = load_table(spark, sf_dir, "events")
    parsed = F.from_json("props", "k INT")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").alias("k_str"),
        parsed.getField("k").alias("k_int"),
        parsed.getField("k").isNotNull().alias("has_k"),
        (parsed.getField("k") > 50).alias("k_gt_50"),
    )
