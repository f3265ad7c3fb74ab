"""Core query surface: D1–D11 from SURVEY.md §2.2.

These re-express every query shape the reference gateway exposes —
scan, projection, equality/FK filters, point lookup, convention-based
child list, inner equi-join, sorted pagination, dynamic identifiers,
schema introspection, and the SOQL-analog projection — as idiomatic
DataFrame plans. Each docstring cites the reference evidence.

Scale notes (100 TB): every one of these is a single-table scan or a
fact⋈fact equi-join. Filters and projections are declarative, so
Catalyst pushes them into the Parquet scan (row-group skipping +
column pruning); point/FK lookups on a date- or key-partitioned layout
become partition-pruned scans; the join shuffles on the join key and
AQE re-plans to broadcast when one side turns out small.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from data_wrangler_spark.catalog import FK_CONVENTIONS, Catalog, load_table
from data_wrangler_spark.plans.pagination import paginate
from data_wrangler_spark.registry import register


# --------------------------------------------------------------------------
# D1 — full scan + SELECT * projection
# --------------------------------------------------------------------------
@register("q_scan_project_all", oracle="SELECT * FROM region", tags=("core", "scan"))
def q_scan_project_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full scan, all columns (reference: `select * from …` patterns,
    config.json:20, index.js:482)."""
    return load_table(spark, sf_dir, "region").select("*")


# --------------------------------------------------------------------------
# D2 — named-column projection
# --------------------------------------------------------------------------
@register(
    "q_project_cols",
    oracle="SELECT c_custkey, c_name, c_mktsegment FROM customer",
    tags=("core", "projection"),
)
def q_project_cols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column projection (reference: `select id, name from fooMakers`,
    README.md:142; `select id, accountnumber, name from account`,
    config.json:57). Column pruning reaches the Parquet scan."""
    return load_table(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_mktsegment")


# --------------------------------------------------------------------------
# D3 — equality filter with bound parameter
# --------------------------------------------------------------------------
@register(
    "q_filter_eq",
    oracle="SELECT * FROM orders WHERE o_orderpriority = '1-URGENT'",
    tags=("core", "filter"),
    priority="1-URGENT",
)
def q_filter_eq(spark: SparkSession, sf_dir: str, priority: str) -> DataFrame:
    """σ col = ? — the only predicate form the reference ships
    (`where date = ?` config.json:20, `where id = ?` config.json:35).
    The parameter binds as a Column literal, never spliced into SQL;
    the predicate is pushed down to Parquet row-group stats."""
    return load_table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == priority)


# --------------------------------------------------------------------------
# D4 — filter on foreign key
# --------------------------------------------------------------------------
@register(
    "q_filter_fk",
    oracle="""
    SELECT * FROM lineitem
    WHERE l_orderkey = (SELECT min(o_orderkey) FROM orders)
    """,
    tags=("core", "filter"),
    orderkey=None,
)
def q_filter_fk(spark: SparkSession, sf_dir: str, orderkey: int | None) -> DataFrame:
    """Child rows by parent key (reference: `select * from line_items
    where invoice_id = ?`, config.json:21). Default parameter is the
    smallest order key so the query is meaningful at every scale
    factor."""
    li = load_table(spark, sf_dir, "lineitem")
    if orderkey is None:
        orderkey = load_table(spark, sf_dir, "orders").agg(F.min("o_orderkey")).collect()[0][0]
    return li.filter(F.col("l_orderkey") == int(orderkey))


# --------------------------------------------------------------------------
# D5 — point lookup by primary key
# --------------------------------------------------------------------------
@register(
    "q_point_lookup",
    oracle="""
    SELECT * FROM customer
    WHERE c_custkey = (SELECT min(c_custkey) FROM customer)
    """,
    tags=("core", "lookup"),
    key=None,
)
def q_point_lookup(spark: SparkSession, sf_dir: str, key: int | None) -> DataFrame:
    """Single-row fetch by id (reference: `select * from %s where
    id = ?` + fetchRow, index.js:524-526; `anyById` config.json:22).
    The relation is a validated identifier, not a spliced string."""
    cust = load_table(spark, sf_dir, "customer")
    if key is None:
        key = cust.agg(F.min("c_custkey")).collect()[0][0]
    return cust.filter(F.col("c_custkey") == int(key)).limit(1)


# --------------------------------------------------------------------------
# D6 — convention-based parent→children lookup
# --------------------------------------------------------------------------
@register(
    "q_child_list",
    oracle="SELECT * FROM supplier WHERE s_nationkey = 3",
    tags=("core", "lookup"),
    parent="nation",
    child="supplier",
    parent_id=3,
)
def q_child_list(
    spark: SparkSession, sf_dir: str, parent: str, child: str, parent_id: int
) -> DataFrame:
    """Children of record :id in :subrelation via FK naming convention
    (reference: `select * from %s where %s_id = ?`, index.js:575,
    README.md:263-265). The `<parent>_id` convention is engine
    metadata (catalog.FK_CONVENTIONS) instead of string formatting."""
    fk = FK_CONVENTIONS[(parent, child)]
    return load_table(spark, sf_dir, child).filter(F.col(fk) == int(parent_id))


# --------------------------------------------------------------------------
# D7 — inner equi-join + projection + filter (the flagship)
# --------------------------------------------------------------------------
@register(
    "q_inner_join",
    oracle="""
    SELECT o.o_orderkey, o.o_orderdate, o.o_totalprice, l.*
    FROM orders o INNER JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderpriority = '1-URGENT'
    """,
    tags=("core", "join"),
    priority="1-URGENT",
)
def q_inner_join(spark: SparkSession, sf_dir: str, priority: str) -> DataFrame:
    """The reference's only join: inner equi-join with qualified star
    and a parameter filter (`select t.id, a.* from ticket t inner join
    answer a on (t.id = a.ticket_id) where t.id = ?`, config.json:36).

    Spark-first: declared as a DataFrame join so Catalyst chooses the
    physical strategy (broadcast-hash here — orders-side is filtered
    small; sort-merge at 100 TB with AQE skew splitting)."""
    o = load_table(spark, sf_dir, "orders").alias("o")
    l = load_table(spark, sf_dir, "lineitem").alias("l")
    return (
        o.filter(F.col("o.o_orderpriority") == priority)
        .join(l, F.col("o.o_orderkey") == F.col("l.l_orderkey"), "inner")
        .select("o.o_orderkey", "o.o_orderdate", "o.o_totalprice", "l.*")
    )


# --------------------------------------------------------------------------
# D8 — scan + ORDER BY + LIMIT/OFFSET pagination
# --------------------------------------------------------------------------
@register(
    "q_sort_paginate",
    oracle="""
    SELECT * FROM customer
    ORDER BY c_acctbal, c_custkey
    LIMIT 50 OFFSET 100
    """,
    tags=("core", "sort"),
    page=3,
    perpage=50,
    sortby="c_acctbal",
)
def q_sort_paginate(
    spark: SparkSession, sf_dir: str, page: int, perpage: int, sortby: str
) -> DataFrame:
    """Paged list with the reference's clamps (perpage∈[1,1000],
    offset = perpage*(page-1); index.js:434-436,475-480) plus a unique
    pk tiebreaker for determinism Spark doesn't otherwise guarantee."""
    return paginate(load_table(spark, sf_dir, "customer"), "customer", page, perpage, sortby)


# --------------------------------------------------------------------------
# D9 — fully dynamic projection + filter (identifier parameters)
# --------------------------------------------------------------------------
@register(
    "q_dynamic_select",
    oracle="SELECT p_partkey, p_name, p_brand FROM part WHERE p_size = 15",
    tags=("core", "dynamic"),
    table="part",
    cols=("p_partkey", "p_name", "p_brand"),
    where_col="p_size",
    where_val=15,
)
def q_dynamic_select(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    cols: tuple[str, ...],
    where_col: str,
    where_val,
) -> DataFrame:
    """`select $x from $y where $z = '$q'` (config.json:23,
    README.md:189-199): table, projection, and predicate column are
    all runtime parameters. The reference validated them with regexes
    (lib/examiner.js:162-196); here each identifier must exist in the
    catalog schema — strictly stronger — and the value binds as a
    literal Column."""
    cat = Catalog(spark, sf_dir)
    cat.validate_table(table)
    for c in (*cols, where_col):
        cat.validate_column(table, c)
    return cat.table(table).filter(F.col(where_col) == F.lit(where_val)).select(*cols)


# --------------------------------------------------------------------------
# D10 — schema introspection
# --------------------------------------------------------------------------
@register(
    "q_describe",
    oracle="""
    SELECT column_name AS col_name,
           CASE column_type
             WHEN 'BIGINT' THEN 'bigint'
             WHEN 'INTEGER' THEN 'int'
             WHEN 'DOUBLE' THEN 'double'
             WHEN 'VARCHAR' THEN 'string'
             WHEN 'TIMESTAMP' THEN 'timestamp'
             ELSE lower(column_type)
           END AS data_type
    FROM (DESCRIBE customer)
    """,
    tags=("core", "introspection"),
    table="customer",
)
def q_describe(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Schema introspection (reference: `desc $table` delegated to
    MySQL, config.json:34; name-only inference in examineQuery,
    lib/examiner.js:139-160). Spark gives the exact typed StructType
    from Catalyst analysis for free."""
    df = load_table(spark, sf_dir, Catalog(spark, sf_dir).validate_table(table))
    rows = [(name, dtype) for name, dtype in df.dtypes]
    return spark.createDataFrame(rows, "col_name string, data_type string")


# --------------------------------------------------------------------------
# D11 — SOQL-analog remote projection
# --------------------------------------------------------------------------
@register(
    "q_soql_project",
    oracle="SELECT s_suppkey, s_name, s_acctbal FROM supplier",
    tags=("core", "projection"),
)
def q_soql_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Salesforce-plugin query shape (`select id, accountnumber,
    name from account`, config.json:57; executed via SOQL at
    plugins/salesforce.js:103). Federation collapses into the Spark
    catalog: a remote object is just another table."""
    return load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_acctbal")
