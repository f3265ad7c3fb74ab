"""Format round-trips and snapshot diffing.

The reference gateway serves rows as JSON over HTTP and delegates all
storage to its backends (`/root/reference/index.js:431-492`); a Spark
engine owns its sinks, so the interchange formats are first-class
operators here:

- q_csv_roundtrip / q_jsonl_roundtrip: write a deterministic
  projection to CSV / JSON-lines in scratch, read it back with an
  explicit schema, and return the row set. The oracle computes the
  same projection straight from parquet — a hash match proves the
  sink+source pair lost nothing, row by row.
- q_cdc_diff: change-data-capture between two snapshots (full outer
  join on the primary key → insert/update/delete classification) —
  the standard incremental-pipeline primitive.

Exactness: everything that crosses a text format is integers or
strings (prices in cents, timestamps formatted once on the parquet
side), so no float-printing round-trip can diverge. Scale: the writes
shard per partition (one file per task, no coalesce(1)); the CDC join
is a single co-partitioned shuffle on the key with no skew (pk is
unique on both sides).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, functions as F

from data_wrangler_spark.catalog import load_table, read_parquet
from data_wrangler_spark.registry import register
from data_wrangler_spark.scratch import (
    ROOT,
    materialize,
    read_manifest,
    scratch_tag,
    write_manifest,
)

_IO_SCRATCH = f"{ROOT}/io"

# Shared projection: text-safe orders rows (cents + ISO date string).
_ORDERS_TEXT_ORACLE = """
    SELECT o_orderkey,
           o_orderstatus,
           CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents,
           strftime(o_orderdate, '%Y-%m-%d') AS order_date
    FROM orders
"""


def _orders_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("price_cents"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
    )


@register(
    "q_csv_roundtrip",
    oracle=_ORDERS_TEXT_ORACLE,
    tags=("ext", "source", "sink"),
)
def q_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink + source round-trip: the orders projection is written
    once per sf as sharded CSV (header, one file per task — never
    coalesce(1); at 100 TB the write parallelism IS the read
    parallelism), then read back with an explicit schema (no
    inferSchema — that is a full extra pass at scale). The returned
    rows come from the CSV files; the oracle reads parquet directly,
    so the hash match certifies the text round-trip row-for-row."""
    path = materialize(
        f"{_IO_SCRATCH}/{scratch_tag(sf_dir)}/orders_csv",
        lambda p: _orders_text(spark, sf_dir).write.option("header", True).csv(p),
    )
    schema = (
        "o_orderkey long, o_orderstatus string, price_cents long, order_date string"
    )
    return spark.read.schema(schema).option("header", True).csv(path)


@register(
    "q_xml_roundtrip",
    oracle=_ORDERS_TEXT_ORACLE,
    tags=("ext", "source", "sink"),
)
def q_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML sink + source round-trip — the one text format family the
    repo lacked until Spark 4 folded spark-xml into core. The orders
    projection writes through the native XML SINK (`format("xml")`,
    rootTag/rowTag, entity escaping handled by the writer, one file
    per task — never coalesce(1)) and reads back through the XML
    SOURCE with rowTag + EXPLICIT schema (inference is a full extra
    pass at scale, exactly like csv/jsonl; a per-file root element is
    the format's contract, which is why a hand-rolled
    one-element-per-line text write is NOT a valid XML lake layout —
    the source parses one document per file). Oracle reads parquet
    directly: the hash match certifies sink + source row-for-row.
    Same text-safety contract as the other round-trips: integers and
    strings only ever cross the format."""
    path = materialize(
        f"{_IO_SCRATCH}/{scratch_tag(sf_dir)}/orders_xml",
        lambda p: _orders_text(spark, sf_dir).write.format("xml").option(
            "rootTag", "orders"
        ).option("rowTag", "order").save(p),
    )
    schema = (
        "o_orderkey long, o_orderstatus string, price_cents long, order_date string"
    )
    return (
        spark.read.format("xml")
        .option("rowTag", "order")
        .schema(schema)
        .load(path)
        .select("o_orderkey", "o_orderstatus", "price_cents", "order_date")
    )


@register(
    "q_jsonl_roundtrip",
    oracle="""
    SELECT event_id, user_id, event_type,
           CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS value_micro,
           CAST(json_extract(props, '$.k') AS BIGINT) AS prop_k
    FROM events
    """,
    tags=("ext", "source", "sink"),
)
def q_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink + source round-trip over events, including a
    nested-JSON hop: the original `props` JSON string is carried
    through the jsonl file and parsed AFTER the round-trip
    (get_json_object on the re-read side), so the check covers both
    the line format and the nested extraction. Explicit read schema;
    sharded files; value quantized to micro-units before the write so
    no double ever meets a text format."""

    def build(p: str) -> None:
        load_table(spark, sf_dir, "events").select(
            "event_id",
            "user_id",
            "event_type",
            F.floor(F.col("value") * 1_000_000 + 0.5)
            .cast("long")
            .alias("value_micro"),
            "props",
        ).write.json(p)

    path = materialize(f"{_IO_SCRATCH}/{scratch_tag(sf_dir)}/events_jsonl", build)
    schema = (
        "event_id long, user_id long, event_type string, "
        "value_micro long, props string"
    )
    back = spark.read.schema(schema).json(path)
    return back.select(
        "event_id",
        "user_id",
        "event_type",
        "value_micro",
        F.get_json_object("props", "$.k").cast("long").alias("prop_k"),
    )


@register(
    "q_orc_roundtrip",
    oracle=_ORDERS_TEXT_ORACLE,
    tags=("ext", "source", "sink"),
)
def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + source round-trip — the third interchange format
    beside CSV and JSON-lines, exercising Spark's native ORC
    reader/writer (columnar, predicate-pushdown-capable like
    parquet). Same projection and oracle as q_csv_roundtrip, so the
    hash match certifies the ORC hop row-for-row."""
    path = materialize(
        f"{_IO_SCRATCH}/{scratch_tag(sf_dir)}/orders_orc",
        lambda p: _orders_text(spark, sf_dir).write.orc(p),
    )
    return spark.read.orc(path)


@register(
    "q_partitioned_write_prune",
    oracle="""
    SELECT o_orderkey,
           CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents,
           o_orderstatus
    FROM orders WHERE o_orderstatus = 'F'
    """,
    tags=("ext", "sink", "layout"),
)
def q_partitioned_write_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned layout + partition pruning: orders are
    written once per sf partitioned by o_orderstatus
    (`.../o_orderstatus=F/...`), then the read filters on the
    partition column — the scan must touch ONLY the matching
    directory, never the other partitions' files. That directory
    pruning (PartitionFilters in the physical scan, asserted in
    tests/test_io_formats.py) is the single most important layout
    lever at 100 TB: a date/tenant-partitioned table turns a full
    scan into a file-listing of one subtree. The oracle replays the
    filter on the raw table, proving the layout lost nothing."""
    return (
        read_parquet(spark, _orders_by_status(spark, sf_dir))
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "price_cents", "o_orderstatus")
    )


def _orders_by_status(spark: SparkSession, sf_dir: str) -> str:
    """The cents-exact orders projection, persisted once per sf
    partitioned by o_orderstatus (shared by the static and dynamic
    partition-pruning operators)."""
    return materialize(
        f"{_IO_SCRATCH}/{scratch_tag(sf_dir)}/orders_by_status",
        lambda p: _orders_text(spark, sf_dir)
        .select("o_orderkey", "price_cents", "o_orderstatus")
        .write.partitionBy("o_orderstatus")
        .parquet(p),
    )


# CDC fixture: two deterministic snapshots derived from orders.
#   A = orders before 1996-07-01
#   B = orders before 1997-07-01, minus keys ≡ 3 (mod 97)  [deletes]
#       with +500 cents on keys ≡ 0 (mod 10)               [updates]
_CDC_SNAP_A = """
      SELECT o_orderkey AS pk,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders WHERE o_orderdate < TIMESTAMP '1996-07-01'
"""
_CDC_SNAP_B = """
      SELECT o_orderkey AS pk,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
               + CASE WHEN o_orderkey % 10 = 0 THEN 500 ELSE 0 END AS cents
      FROM orders
      WHERE o_orderdate < TIMESTAMP '1997-07-01' AND o_orderkey % 97 <> 3
"""


@register(
    "q_cdc_diff",
    oracle=f"""
    WITH a AS ({_CDC_SNAP_A}),
         b AS ({_CDC_SNAP_B})
    SELECT coalesce(a.pk, b.pk) AS pk,
           CASE WHEN a.pk IS NULL THEN 'I'
                WHEN b.pk IS NULL THEN 'D'
                ELSE 'U' END AS change_type,
           a.cents AS old_cents,
           b.cents AS new_cents
    FROM a FULL OUTER JOIN b ON a.pk = b.pk
    WHERE a.pk IS NULL OR b.pk IS NULL OR a.cents <> b.cents
    """,
    tags=("ext", "cdc"),
)
def q_cdc_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot CDC: classify every key as Insert / Update / Delete
    between two table versions via one full outer join on the primary
    key. Both snapshots derive deterministically from orders (a later
    cutoff adds inserts; a modular key filter injects deletes; a cent
    bump injects updates) so the diff is exactly reproducible. Scale:
    pk is unique per side → the join is a skew-free co-partitioned
    shuffle; unchanged rows are dropped BEFORE the result
    materializes (the common case at 100 TB — most of the table is
    unchanged, and it never leaves the join stage). This is the batch
    complement of the MERGE apply step (q_upsert_merge)."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
    snap_a = o.filter(F.col("o_orderdate") < "1996-07-01").select(
        F.col("o_orderkey").alias("pk"), cents.alias("cents")
    )
    snap_b = (
        o.filter(
            (F.col("o_orderdate") < "1997-07-01") & (F.col("o_orderkey") % 97 != 3)
        )
        .select(
            F.col("o_orderkey").alias("pk"),
            (
                cents
                + F.when(F.col("o_orderkey") % 10 == 0, F.lit(500)).otherwise(0)
            ).alias("cents"),
        )
    )
    a = snap_a.select(F.col("pk").alias("pk_a"), F.col("cents").alias("old_cents"))
    b = snap_b.select(F.col("pk").alias("pk_b"), F.col("cents").alias("new_cents"))
    j = a.join(b, a.pk_a == b.pk_b, "full_outer")
    return (
        j.filter(
            F.col("pk_a").isNull()
            | F.col("pk_b").isNull()
            | (F.col("old_cents") != F.col("new_cents"))
        )
        .select(
            F.coalesce("pk_a", "pk_b").alias("pk"),
            F.when(F.col("pk_a").isNull(), "I")
            .when(F.col("pk_b").isNull(), "D")
            .otherwise("U")
            .alias("change_type"),
            "old_cents",
            "new_cents",
        )
    )


@register(
    "q_table_fingerprint",
    oracle="""
    WITH o AS (
      SELECT ('0x' || substr(md5(
               CAST(o_orderkey AS VARCHAR) || '|' || o_orderstatus || '|' ||
               CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS VARCHAR)
               || '|' || strftime(o_orderdate, '%Y-%m-%d')
             ), 1, 15))::BIGINT AS h
      FROM orders),
    l AS (
      SELECT ('0x' || substr(md5(
               CAST(l_orderkey AS VARCHAR) || '|' ||
               CAST(l_linenumber AS VARCHAR) || '|' ||
               CAST(l_partkey AS VARCHAR) || '|' ||
               CAST(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS VARCHAR)
             ), 1, 15))::BIGINT AS h
      FROM lineitem)
    SELECT 'orders' AS table_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(h AS DECIMAL(38,0))) AS VARCHAR) AS hash_sum,
           CAST(bit_xor(h) AS BIGINT) AS hash_xor
    FROM o
    UNION ALL
    SELECT 'lineitem', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CAST(h AS DECIMAL(38,0))) AS VARCHAR),
           CAST(bit_xor(h) AS BIGINT)
    FROM l
    """,
    tags=("ext", "quality", "maintenance"),
)
def q_table_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent table fingerprints — the data-validation
    primitive for 100 TB migrations, replications, and engine swaps:
    serialize each row canonically (keys and strings verbatim, money
    as half-up cents, dates as ISO strings — never raw double
    printing, which differs across engines), hash it to a 60-bit
    md5-derived long, and reduce with TWO order-independent
    aggregates (exact decimal SUM — collision-resistant to row swaps
    — and BIT_XOR — sensitive to duplicate-pair cancellation the sum
    alone could mask... and vice versa: together a row lost, altered,
    or duplicated moves at least one). Comparing fingerprints of two
    copies never moves the data: each side reduces locally to one
    row per table. This is the check q_csv_roundtrip/q_orc_roundtrip
    do by full value comparison, collapsed to a constant-size
    certificate — the form that works when the copies live on
    different clusters. The oracle recomputes both fingerprints from
    the same parquet, so the hash discipline itself is under the
    exact gate. Scale: one scan per table, partial+final agg, zero
    shuffle of rows (only per-partition partial states move)."""
    from data_wrangler_spark.operators.dedup import _md5_long

    o = load_table(spark, sf_dir, "orders")
    orow = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_orderstatus"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").cast("string"),
        F.date_format("o_orderdate", "yyyy-MM-dd"),
    )
    li = load_table(spark, sf_dir, "lineitem")
    lrow = F.concat_ws(
        "|",
        F.col("l_orderkey").cast("string"),
        F.col("l_linenumber").cast("string"),
        F.col("l_partkey").cast("string"),
        F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long").cast("string"),
    )

    def fp(df: DataFrame, row, name: str) -> DataFrame:
        h = df.select(_md5_long(row).alias("h"))
        return h.agg(
            F.lit(name).alias("table_name"),
            F.count("*").alias("n_rows"),
            F.sum(F.col("h").cast("decimal(38,0)")).cast("string").alias("hash_sum"),
            F.expr("bit_xor(h)").cast("long").alias("hash_xor"),
        )

    return fp(o, orow, "orders").unionAll(fp(li, lrow, "lineitem"))


@register(
    "q_schema_evolution",
    oracle="""
    WITH gen AS (
      SELECT doc_id, lang,
             CASE WHEN doc_id % 2 = 0 THEN NULL ELSE n_chars END AS n_chars,
             CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END AS generation
      FROM documents)
    SELECT lang, generation,
           CAST(COUNT(*) AS BIGINT)        AS n_docs,
           CAST(COUNT(n_chars) AS BIGINT)  AS n_with_chars,
           CAST(SUM(n_chars) AS BIGINT)    AS sum_chars
    FROM gen
    GROUP BY lang, generation
    """,
    tags=("ext", "source", "layout", "eager"),
)
def q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across file generations — the append-only
    lake reality at 100 TB: yesterday's files lack the column added
    today, and the reader must union both WITHOUT rewriting history.
    Generation 1 (even doc_ids) is written as (doc_id, lang);
    generation 2 (odd doc_ids) adds n_chars. One read with
    `mergeSchema=true` reconciles the footers: gen-1 rows surface
    n_chars as NULL, gen-2 rows keep real values, and the report
    proves both (COUNT(n_chars) counts only gen-2 rows, the exact
    sum matches the raw table's odd-id sum — the oracle restates the
    generation split straight from parquet).

    Scale: schema reconciliation is footer-only (no data read at
    planning); writing generations as separate directories under one
    root is exactly how partition-append pipelines evolve. The sane
    production knobs noted: new columns must be added NULLABLE, never
    repurpose a name with a new type (parquet reconciliation fails —
    by design), and pin `mergeSchema` on the READ because at scale
    the default (first-footer schema) silently drops new columns."""

    def build(p: str) -> None:
        d = load_table(spark, sf_dir, "documents")
        d.filter(F.col("doc_id") % 2 == 0).select("doc_id", "lang").write.parquet(
            f"{p}/gen=1"
        )
        d.filter(F.col("doc_id") % 2 == 1).select(
            "doc_id", "lang", "n_chars"
        ).write.parquet(f"{p}/gen=2")

    path = materialize(f"{_IO_SCRATCH}/{scratch_tag(sf_dir)}/schema_evo", build)
    merged = spark.read.option("mergeSchema", "true").parquet(
        f"{path}/gen=1", f"{path}/gen=2"
    )
    gen = F.when(F.col("doc_id") % 2 == 0, F.lit(1)).otherwise(F.lit(2))
    return merged.groupBy("lang", gen.alias("generation")).agg(
        F.count("*").alias("n_docs"),
        F.count("n_chars").alias("n_with_chars"),
        F.sum("n_chars").alias("sum_chars"),
    )


@register(
    "q_join_dpp",
    oracle="""
    WITH pr AS (
      SELECT CASE o_orderstatus WHEN 'F' THEN 'CLOSED'
                                WHEN 'O' THEN 'OPEN'
                                ELSE 'PARTIAL' END AS status_name,
             o_orderstatus AS status_code
      FROM (SELECT DISTINCT o_orderstatus FROM orders))
    SELECT o.o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS cents
    FROM (SELECT o_orderkey,
                 CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) / 100.0
                   AS o_totalprice,
                 o_orderstatus
          FROM orders) o
    JOIN pr ON pr.status_code = o.o_orderstatus
    WHERE pr.status_name = 'CLOSED'
    GROUP BY o.o_orderstatus
    """,
    tags=("ext", "join", "layout"),
)
def q_join_dpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition pruning — the scan-side optimization static
    pruning (q_partitioned_write_prune) cannot give you: the fact
    table is partitioned by o_orderstatus, but the query filters on
    a DIMENSION attribute (status_name = 'CLOSED'); which fact
    partitions survive is only known after the dim filter runs.
    Spark's DPP inserts a runtime subquery: the filtered dim's join
    keys are computed first and become a partition filter on the
    fact scan, so only the o_orderstatus=F subtree is ever listed or
    read — asserted via `dynamicpruning` in the analyzed plan
    (tests/test_io_formats.py). At 100 TB this is THE star-schema
    scan killer: date-dim filters ("fiscal Q3") prune a
    date-partitioned fact without the user naming physical partition
    values. The oracle restates the join on raw parquet.

    The fact side reuses q_partitioned_write_prune's cents-exact
    partitioned layout. The dim MUST be a stored table (persisted to
    scratch, read back): when its attribute is instead derived
    in-query from the join key, Catalyst's constraint propagation
    constant-folds the dim filter into a STATIC partition filter —
    smarter, but it would bypass the runtime-pruning path this
    operator exists to pin. Stored data is opaque to inference, so
    the plan carries a real `dynamicpruningexpression`."""
    fact = read_parquet(spark, _orders_by_status(spark, sf_dir))
    dim_path = materialize(
        f"{_IO_SCRATCH}/{scratch_tag(sf_dir)}/status_dim",
        lambda p: load_table(spark, sf_dir, "orders")
        .select("o_orderstatus")
        .distinct()
        .select(
            F.when(F.col("o_orderstatus") == "F", "CLOSED")
            .when(F.col("o_orderstatus") == "O", "OPEN")
            .otherwise("PARTIAL")
            .alias("status_name"),
            F.col("o_orderstatus").alias("status_code"),
        )
        .write.parquet(p),
    )
    dim = read_parquet(spark, dim_path)
    return (
        fact.join(
            dim.filter(F.col("status_name") == "CLOSED"),
            fact["o_orderstatus"] == dim["status_code"],
        )
        .groupBy(fact["o_orderstatus"])
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("price_cents").alias("cents"),
        )
    )


DELETE_MOD = 97  # q_delete_rows: doc_id % 97 == 0 rows are erased
SNAPSHOT_MOD = 89  # q_snapshot_commit: doc_id % 89 == 0 rows erased in v2


def _erasure_path(sf_dir: str, mod: int) -> str:
    return f"{_IO_SCRATCH}/{scratch_tag(sf_dir, f'mod={mod}')}/erasure"


def _erasure_snapshot(spark: SparkSession, sf_dir: str, mod: int) -> str:
    """Build-once manifest-committed erasure of the documents corpus
    (rows with doc_id % ``mod`` == 0); returns the artifact's base.

    v1 is the corpus bucketed into immutable data files, 8 hash
    buckets on doc_id (at 100 TB, the erasure key's bucketing column).
    v2 is the erasure: only VICTIM buckets get replacement files,
    survivors' files are carried into the v2 manifest by reference —
    the minimal-rewrite property. The data files do not carry the
    bucket column; it lives in the file names (``data/vN-b<bucket>-i``).
    One ``materialize`` build writes both versions and both manifests,
    so a reader sees v1 and v2 complete or a rebuild, never a mix,
    and v1 stays readable after v2 (time travel)."""

    def build(base: str) -> None:
        stage = f"{base}/stage"

        def publish(src: str, version: int, bk: int) -> list[str]:
            # move a staged write's parquet files into data/ under
            # their manifest names
            names = sorted(f for f in os.listdir(src) if f.endswith(".parquet"))
            dests = [f"data/v{version}-b{bk}-{i}.parquet" for i in range(len(names))]
            for f_, dest in zip(names, dests):
                os.replace(f"{src}/{f_}", f"{base}/{dest}")
            return dests

        os.makedirs(f"{base}/data")
        d = load_table(spark, sf_dir, "documents").select(
            "doc_id", "lang", "n_chars",
            F.pmod(F.hash("doc_id"), F.lit(8)).alias("bucket"),
        )
        d.repartition("bucket").write.partitionBy("bucket").parquet(stage)
        files = {bk: publish(f"{stage}/bucket={bk}", 1, bk) for bk in range(8)}
        shutil.rmtree(stage)
        write_manifest(base, 1, {"files": sorted(sum(files.values(), []))})
        # which shards hold victims? (at 100 TB: a cheap pushed-down
        # scan of the erasure keys, usually pruning most shards)
        victim_buckets = sorted(
            r.bucket
            for r in d.filter(F.col("doc_id") % mod == 0)
            .select("bucket").distinct().collect()
        )
        for bk in victim_buckets:
            # sharded write — the manifest lists N files per bucket,
            # so no coalesce(1) bottleneck at scale
            spark.read.parquet(*[f"{base}/{p}" for p in files[bk]]).filter(
                F.col("doc_id") % mod != 0
            ).write.parquet(stage)
            files[bk] = publish(stage, 2, bk)
            shutil.rmtree(stage)
        write_manifest(base, 2, {"files": sorted(sum(files.values(), []))})

    return materialize(_erasure_path(sf_dir, mod), build)


def read_snapshot(spark: SparkSession, base: str, version: int | None = None) -> DataFrame:
    """Read exactly the data files of CURRENT's manifest (or of a
    pinned version — time travel)."""
    man = read_manifest(base, version)
    return read_parquet(spark, *[f"{base}/{p}" for p in man["files"]])


@register(
    "q_delete_rows",
    oracle=f"""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM documents
    WHERE doc_id % {DELETE_MOD} <> 0
    GROUP BY lang
    """,
    tags=("ext", "layout", "maintenance"),
)
def q_delete_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Targeted row deletion (the GDPR-erasure / right-to-be-forgotten
    maintenance op): documents with doc_id % 97 == 0 must disappear
    from a persisted copy-on-write table. The rewrite is MINIMAL by
    construction: the table is hash-bucketed into immutable files,
    the delete set's buckets are computed first, and ONLY those
    buckets get new files (here every bucket contains victims at
    fixture scale, but the build touches buckets by predicate). The
    table and its erasure commit are the shared `_erasure_snapshot`
    artifact, published by `scratch.materialize` like every persisted
    artifact. The report reads the post-delete (CURRENT) version; the
    oracle filters the raw table — a hash match certifies no survivor
    was lost and no victim survived (count + id-checksum + char mass
    per lang).

    This completes the lakehouse maintenance family: append
    (q_rollup_incremental), upsert (q_upsert_merge /
    q_stream_upsert_state), compact (q_compact_files), re-cluster
    (q_zorder_layout), and now erase — the operation that legally
    cannot be an append."""
    base = _erasure_snapshot(spark, sf_dir, DELETE_MOD)
    return read_snapshot(spark, base).groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("doc_id").alias("sum_ids"),
        F.sum("n_chars").alias("sum_chars"),
    )


@register(
    "q_snapshot_commit",
    oracle=f"""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS sum_ids
    FROM documents
    WHERE doc_id % {SNAPSHOT_MOD} <> 0
    GROUP BY lang
    """,
    tags=("ext", "layout", "maintenance"),
)
def q_snapshot_commit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-versioned snapshot table, Iceberg/Delta-style: data
    files are IMMUTABLE and each version is a manifest (a JSON file
    listing its data files) that CURRENT points at. Readers resolve
    CURRENT → manifest → file list; v1 (the corpus) stays readable
    after v2 (the doc_id % 89 erasure) — time travel, pinned by test.
    v2 rewrites only victim buckets' files and carries survivors'
    files by reference. Both versions are written by one
    `scratch.materialize` build (`_erasure_snapshot`, shared with
    q_delete_rows), so a crash mid-build is a rebuild, not a stale
    pointer to recover from. The query reads CURRENT (v2); the oracle
    filters raw parquet — a hash match certifies no survivor lost, no
    victim retained, through the manifest indirection."""
    base = _erasure_snapshot(spark, sf_dir, SNAPSHOT_MOD)
    return read_snapshot(spark, base).groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("doc_id").alias("sum_ids"),
    )
