"""Multimodal-column operators (north star).

Image/audio/video content at 100 TB lives as opaque `binary` columns
plus typed metadata structs; the decode step runs in Arrow-batched
Python (`mapInPandas`) so each worker processes partition-sized
batches. The actual codec libraries aren't in this container, so the
decode body is a deterministic fake behind `_decode_stub` — the
Spark-side plumbing (schemas, batching, partitioning) is real and
oracle-checked where the fake is SQL-expressible.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F

from data_wrangler_spark.catalog import load_table, read_parquet
from data_wrangler_spark.functions.vectors import micro_csv, sql_micro_csv
from data_wrangler_spark.registry import register
from data_wrangler_spark.scratch import ROOT, materialize, scratch_tag


@register(
    "q_multimodal_cols",
    oracle="""
    SELECT d.doc_id, d.text, d.lang,
           CAST(len(e.embedding) AS INT) AS dim,
           e.label
    FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    """,
    tags=("llm", "multimodal"),
)
def q_multimodal_cols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal record assembly: join text + embedding modalities,
    pack into a typed struct (the storage/transport shape), then
    project fields back out (what the harness can value-compare).
    The struct round-trip is the point: schema evolution and columnar
    pruning both operate on the struct fields at scale."""
    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    rec = (
        d.join(e, d.doc_id == e.vec_id)
        .select(
            F.struct(
                F.col("doc_id"),
                F.col("text"),
                F.col("lang"),
                F.col("embedding"),
                F.col("label"),
            ).alias("record")
        )
    )
    return rec.select(
        F.col("record.doc_id").alias("doc_id"),
        F.col("record.text").alias("text"),
        F.col("record.lang").alias("lang"),
        F.size("record.embedding").alias("dim"),
        F.col("record.label").alias("label"),
    )


@register(
    "q_mm_frame_sample",
    oracle="""
    WITH meta AS (
      SELECT doc_id,
             CAST(octet_length(encode(text)) % 10 AS INT) AS n_frames,
             octet_length(encode(text)) AS blen
      FROM documents),
    frames AS (
      SELECT doc_id, n_frames, CAST(f AS INT) AS frame_idx, blen
      FROM meta, LATERAL unnest(range(0, n_frames)) AS t(f)
      WHERE f % 2 = 0)
    SELECT doc_id, n_frames, frame_idx,
           CAST(blen // greatest(n_frames, 1) AS INT) AS frame_bytes
    FROM frames
    """,
    tags=("llm", "multimodal"),
)
def q_mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing for video-like payloads: per payload,
    the (stubbed) container metadata yields n_frames; every 2nd frame
    index is emitted as its own row with its byte span — the
    one-payload→many-samples expansion that feeds a training
    pipeline. The expansion itself is JVM-side (sequence+explode on
    the Python-extracted metadata); only metadata extraction runs in
    Arrow batches. A real deployment swaps the stub for ffmpeg
    keyframe indices; the plan shape is unchanged."""
    feats = q_mm_decode(spark, sf_dir).select("doc_id", "n_frames", "byte_len")
    frames = feats.select(
        "doc_id",
        "n_frames",
        F.explode(
            F.when(F.col("n_frames") > 0,
                   F.sequence(F.lit(0), F.col("n_frames") - 1))
            .otherwise(F.array().cast("array<int>"))
        ).alias("frame_idx"),
        "byte_len",
    ).filter(F.col("frame_idx") % 2 == 0)
    return frames.select(
        "doc_id",
        "n_frames",
        "frame_idx",
        (F.col("byte_len") / F.greatest(F.col("n_frames"), F.lit(1)))
        .cast("int")
        .alias("frame_bytes"),
    )


def _decode_stub(payload: bytes) -> dict:
    """Deterministic fake decoder. A real deployment swaps this body
    for PIL/librosa/ffmpeg frame sampling; the signature — bytes in,
    typed features out — and the surrounding Arrow batching are what
    the engine guarantees. Raising NotImplementedError here would
    also be legitimate; a deterministic fake keeps the plumbing
    testable end-to-end."""
    return {
        "byte_len": len(payload),
        "content_sha": hashlib.sha256(payload).hexdigest(),
        "n_frames": len(payload) % 10,  # fake "frame count"
    }


@register(
    "q_mm_decode",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS INT) AS byte_len,
           sha256(text)                            AS content_sha,
           CAST(octet_length(encode(text)) % 10 AS INT) AS n_frames,
           lang
    FROM documents
    """,
    tags=("llm", "multimodal"),
)
def q_mm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary decode / feature-extract plumbing: text → binary column
    (standing in for image/audio payloads), then mapInPandas batches
    run the (stubbed) decoder per payload. Arrow moves binary columns
    zero-copy; partition count — not row count — bounds Python
    invocations. The oracle reproduces the fake decoder in SQL, so
    the full Python path is value-checked."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("payload"), "lang"
    )

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = pdf["payload"].map(_decode_stub)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "byte_len": feats.map(lambda f: f["byte_len"]),
                    "content_sha": feats.map(lambda f: f["content_sha"]),
                    "n_frames": feats.map(lambda f: f["n_frames"]),
                    "lang": pdf["lang"],
                }
            )

    return d.mapInPandas(
        decode_batches,
        "doc_id bigint, byte_len int, content_sha string, n_frames int, lang string",
    )


# SQL mirror of one sha256-hex byte → [0,1] feature: value of hex
# digit pair (2j+1, 2j+2) divided by 255.
def _sql_hash_feature(j: int) -> str:
    hi = f"(strpos('0123456789abcdef', substring(sha256(text), {2 * j + 1}, 1)) - 1)"
    lo = f"(strpos('0123456789abcdef', substring(sha256(text), {2 * j + 2}, 1)) - 1)"
    return f"CAST({hi} * 16 + {lo} AS DOUBLE) / 255.0"


MM_EMBED_DIM = 8


@register(
    "q_mm_embed",
    oracle=f"""
    SELECT doc_id, lang,
           {sql_micro_csv('[' + ', '.join(_sql_hash_feature(j) for j in range(MM_EMBED_DIM)) + ']')}
             AS features
    FROM documents
    """,
    tags=("llm", "multimodal", "embedding"),
)
def q_mm_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload → fixed-dim feature vector, the
    feature-extraction leg of a multimodal pipeline (image/audio
    embedding models slot in here). The Python side runs REAL
    mapInPandas plumbing — Arrow-batched binary in, fixed-width
    array<double> out — with a deterministic stand-in extractor
    (first 8 sha256 digest bytes scaled to [0,1]), so the oracle can
    restate it in SQL and value-check the whole Python path, batch
    boundaries included. Swap `_embed_stub` for a model call and
    the schema, batching, and partition behavior are unchanged; at
    scale tune batch size via spark.sql.execution.arrow
    .maxRecordsPerBatch to amortize model invocation."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("payload"), "lang"
    )

    def _embed_stub(payload: bytes) -> list[float]:
        digest = hashlib.sha256(payload).digest()
        return [b / 255.0 for b in digest[:MM_EMBED_DIM]]

    def embed_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "lang": pdf["lang"],
                    "features": pdf["payload"].map(_embed_stub),
                }
            )

    out = d.mapInPandas(
        embed_batches, "doc_id bigint, lang string, features array<double>"
    )
    # The Python leg emits the real array<double>; the registered
    # result serializes it to fixed-point CSV because the driver
    # harness hashes cells and can't canonicalize list values.
    return out.select("doc_id", "lang", micro_csv("features").alias("features"))


RESIZE_FACTOR = 4  # fake "downsample by 4" — stands in for a real scaler


@register(
    "q_mm_resize",
    oracle=f"""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS INT) AS in_bytes,
           CAST(octet_length(encode(text)) // {RESIZE_FACTOR} AS INT) AS out_bytes,
           CAST(octet_length(encode(text)) % 100 AS INT) AS in_width,
           CAST(octet_length(encode(text)) % 100 // {RESIZE_FACTOR} AS INT) AS out_width,
           sha256(substring(text, 1, CAST(octet_length(encode(text)) // {RESIZE_FACTOR} AS INT))) AS out_sha
    FROM documents
    """,
    tags=("llm", "multimodal"),
)
def q_mm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize/transcode plumbing: binary payload in, smaller binary
    payload + updated dimension metadata out, through mapInPandas.
    The stand-in 'scaler' truncates the payload to 1/4 and scales the
    fake width metadata; a real deployment swaps the body for
    PIL/ffmpeg. The output payload itself is value-checked through
    its sha256 (the harness compares the digest, proving the Python
    path produced exactly the bytes the SQL restatement predicts).
    Payloads never shuffle — the op is scan → mapInPandas → project,
    and metadata-only consumers downstream prune the binary column
    out of the scan entirely."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("payload")
    )

    def resize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = pdf["payload"].map(len)
            out = pdf["payload"].map(lambda p: p[: len(p) // RESIZE_FACTOR])
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "in_bytes": n,
                    "out_bytes": out.map(len),
                    "in_width": n % 100,
                    "out_width": (n % 100) // RESIZE_FACTOR,
                    "out_sha": out.map(lambda p: hashlib.sha256(p).hexdigest()),
                }
            )

    return d.mapInPandas(
        resize_batches,
        "doc_id bigint, in_bytes int, out_bytes int, in_width int, out_width int, out_sha string",
    )


AUDIO_WIN = 400   # fake samples (=bytes) per chunk
AUDIO_HOP = 200   # hop: 50% overlap, the standard ASR framing


@register(
    "q_mm_audio_chunk",
    oracle=f"""
    WITH meta AS (
      SELECT doc_id, CAST(octet_length(encode(text)) AS INT) AS byte_len
      FROM documents),
    chunks AS (
      SELECT doc_id, byte_len, CAST(s AS INT) AS start_byte
      FROM meta, LATERAL unnest(range(0, byte_len, {AUDIO_HOP})) AS t(s))
    SELECT doc_id,
           CAST(start_byte // {AUDIO_HOP} AS INT)                  AS chunk_idx,
           start_byte,
           CAST(least({AUDIO_WIN}, byte_len - start_byte) AS INT)  AS chunk_bytes,
           least({AUDIO_WIN}, byte_len - start_byte) < {AUDIO_WIN} AS is_tail
    FROM chunks
    """,
    tags=("llm", "multimodal"),
)
def q_mm_audio_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio chunking plumbing: waveform-like payloads segmented into
    overlapping windows (400-sample window, 200-sample hop — each
    sample covered by ≤2 chunks), the framing an ASR/embedding
    pipeline feeds its model. Byte length comes off the real Arrow
    decode path (q_mm_decode's mapInPandas); the chunk expansion is
    JVM-side sequence+explode, so the one-payload→many-chunks fan-out
    costs no Python. A real deployment swaps the length arithmetic
    for codec frame offsets; schema and plan shape are unchanged.

    Scale: explode multiplies rows ~len/hop ×; the expansion is
    stateless and partition-local (no shuffle), so output partition
    sizing is governed by input split size — halve
    files.maxPartitionBytes to hold post-explode partitions constant."""
    feats = q_mm_decode(spark, sf_dir).select("doc_id", "byte_len")
    return (
        feats.select(
            "doc_id",
            "byte_len",
            F.explode(
                F.sequence(F.lit(0), F.col("byte_len") - 1, F.lit(AUDIO_HOP))
            ).alias("start_byte"),
        )
        .select(
            "doc_id",
            (F.col("start_byte") / AUDIO_HOP).cast("int").alias("chunk_idx"),
            "start_byte",
            F.least(F.lit(AUDIO_WIN), F.col("byte_len") - F.col("start_byte"))
            .cast("int")
            .alias("chunk_bytes"),
            (
                F.least(F.lit(AUDIO_WIN), F.col("byte_len") - F.col("start_byte"))
                < AUDIO_WIN
            ).alias("is_tail"),
        )
    )


# ── q_mm_phash: perceptual-hash near-dup for binary payloads ───────
# Grid: P_PIX blockwise byte-sum "pixels" per payload, read as P_ROWS
# rows × P_COLS columns; dHash bit (r, c) = 1 iff px[r][c] < px[r][c+1]
# → P_ROWS×(P_COLS-1) = 60 bits (the repo's 60-bit hash discipline —
# no sign-bit hazards in either engine's BIGINT).
P_PIX = 66
P_ROWS = 6
P_COLS = 11
PHASH_BITS = P_ROWS * (P_COLS - 1)  # 60
PHASH_BAND_BITS = 15  # 4 bands × 15 bits, the q_dedup_simhash layout
PHASH_MAXD = 8  # accept pairs within 8/60 bits (random pairs: ~30)


def _phash_stub(payload: bytes) -> int:
    """Deterministic fake perceptual hash (dHash, Krawetz): downsample
    the payload into P_PIX blockwise byte sums (the stand-in for an
    8×9 grayscale thumbnail) and emit one bit per adjacent-pixel
    comparison. Unlike a cryptographic digest this is LOCAL: a small
    edit perturbs a few block sums, so near-identical payloads land
    within a few bits (measured on this corpus: near-dups 0-2 bits,
    random pairs ~30 of 60). A real deployment swaps the block-sum
    grid for PIL thumbnail luminance; bit layout and everything
    downstream (banding, Hamming verify) are unchanged."""
    n = len(payload)
    px = [
        sum(payload[k * n // P_PIX : (k + 1) * n // P_PIX])
        for k in range(P_PIX)
    ]
    h = 0
    for r in range(P_ROWS):
        for c in range(P_COLS - 1):
            if px[r * P_COLS + c] < px[r * P_COLS + c + 1]:
                h |= 1 << (r * (P_COLS - 1) + c)
    return h


# adjacent-pixel comparison layout for the vectorized batch hasher:
# bit (r, c) compares grid cell r*P_COLS+c against its right neighbor
_PH_LEFT = [r * P_COLS + c for r in range(P_ROWS) for c in range(P_COLS - 1)]
_PH_RIGHT = [i + 1 for i in _PH_LEFT]


def _phash_batch(payloads) -> "np.ndarray":
    """Vectorized `_phash_stub` over an Arrow batch (r9 next-round #2:
    the per-payload Python loop was the ingest-side bottleneck at
    image scale). One numpy pass: concatenate the batch's payload
    bytes, sum every payload's P_PIX blocks in one
    `np.add.reduceat(..., dtype=int64)` over the flattened block
    boundaries (the blocks of consecutive payloads tile the buffer,
    so one index array covers the whole batch; int64 accumulation —
    exact, no uint8 wraparound), then evaluate the 60 adjacent-pixel
    comparisons as array ops. Measured warm (SCALE.md "phash ingest
    throughput"): 199 vs 60 MB/s on 2 KB payloads (3.3×), 301 vs
    193 MB/s on 100 KB payloads (1.6×) — the win is largest exactly
    where ingest batches live (many small payloads, where the scalar
    loop pays 66 Python-level slice-sums per payload).
    Bit-identical to _phash_stub — pinned by
    tests/test_llm_ops.py on fixture payloads plus edge lengths
    0, 1, P_PIX-1 (reduceat's empty-segment quirk of returning
    buf[idx] instead of 0 is corrected by zeroing zero-length
    blocks, matching Python's sum over an empty slice)."""
    import numpy as np

    vals = [bytes(p) if p is not None else b"" for p in payloads]
    lens = np.fromiter((len(v) for v in vals), dtype=np.int64, count=len(vals))
    buf = np.frombuffer(b"".join(vals), dtype=np.uint8)
    off = np.zeros(len(vals), dtype=np.int64)
    np.cumsum(lens[:-1], out=off[1:])
    k = np.arange(P_PIX, dtype=np.int64)
    # block k of payload i starts at off_i + k*n_i // P_PIX — same
    # span arithmetic as the scalar; block k ends where block k+1
    # starts, and payload i's last block ends where payload i+1 begins
    starts = (off[:, None] + (k[None, :] * lens[:, None]) // P_PIX).ravel()
    if len(buf) == 0:
        px = np.zeros((len(vals), P_PIX), dtype=np.int64)
    else:
        # zero-length blocks are dropped BEFORE reduceat (their
        # boundary index can equal len(buf) — e.g. an empty payload
        # ending the batch — and reduceat's repeated-index quirk
        # returns buf[idx] instead of 0); the surviving indices are
        # strictly increasing and in-bounds, and results scatter back
        # so empty blocks read 0 exactly like Python's empty-slice sum
        seg_len = np.diff(starts, append=len(buf))
        nonzero = seg_len > 0
        sums = np.zeros(len(starts), dtype=np.int64)
        sums[nonzero] = np.add.reduceat(buf, starts[nonzero], dtype=np.int64)
        px = sums.reshape(len(vals), P_PIX)
    weights = (np.int64(1) << np.arange(PHASH_BITS, dtype=np.int64))[None, :]
    return ((px[:, _PH_LEFT] < px[:, _PH_RIGHT]) * weights).sum(axis=1)


def _phash_banded_ctes() -> str:
    """Shared DuckDB CTE chain replaying the phash pipeline up to the
    banded signature table: payload bytes via hex(encode(text))
    hex-pair extraction, blockwise integer sums (identical span
    arithmetic — `//` truncation equals Python floor on
    non-negatives), the 60 dHash comparisons, 4×15-bit banding. Used
    by q_mm_phash / q_mm_phash_keep (self-join pairs) and
    q_mm_phash_incremental (exist-vs-new probe join)."""
    bv = (
        "(strpos('0123456789ABCDEF', substr(hx, CAST(2*j-1 AS BIGINT), 1))-1)*16"
        " + (strpos('0123456789ABCDEF', substr(hx, CAST(2*j AS BIGINT), 1))-1)"
    )
    terms = " + ".join(
        f"(CASE WHEN px[{r * P_COLS + c + 1}] < px[{r * P_COLS + c + 2}] "
        f"THEN {1 << (r * (P_COLS - 1) + c)}::BIGINT ELSE 0::BIGINT END)"
        for r in range(P_ROWS)
        for c in range(P_COLS - 1)
    )
    mask = (1 << PHASH_BAND_BITS) - 1
    return f"""
    b AS (
      SELECT doc_id, octet_length(encode(text)) AS n,
             hex(encode(text)) AS hx
      FROM documents),
    pix AS (
      SELECT doc_id, list_transform(range(0, {P_PIX}), k ->
        COALESCE(list_sum(list_transform(
          generate_series(CAST(k*n//{P_PIX} AS BIGINT) + 1,
                          CAST((k+1)*n//{P_PIX} AS BIGINT)),
          j -> {bv})), 0)) AS px
      FROM b),
    ph AS (SELECT doc_id, ({terms}) AS phash FROM pix),
    banded AS (
      SELECT doc_id, phash, CAST(t.k AS INT) AS band,
             (phash >> (t.k * {PHASH_BAND_BITS})) & {mask} AS bucket
      FROM ph, unnest([0, 1, 2, 3]) AS t(k))"""


def _phash_pair_ctes() -> str:
    """The banded chain + the self-join candidate pair CTE (used by
    q_mm_phash and q_mm_phash_keep)."""
    return f"""{_phash_banded_ctes()},
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.phash AS pa, b.phash AS pb
      FROM banded a
      JOIN banded b ON a.band = b.band AND a.bucket = b.bucket
                   AND a.doc_id < b.doc_id)"""


def _phash_oracle() -> str:
    """q_mm_phash's oracle: the shared pair CTEs + exact Hamming
    acceptance (bit_count of xor)."""
    return f"""
    WITH {_phash_pair_ctes()}
    SELECT doc_a, doc_b, CAST(bit_count(xor(pa, pb)) AS INT) AS hamming
    FROM pairs
    WHERE bit_count(xor(pa, pb)) <= {PHASH_MAXD}
    """


def _phash_keep_oracle(sweep: bool) -> str:
    """q_mm_phash_keep's oracle: the shared pair CTEs + Hamming
    acceptance + symmetric edges + recursive min-label reachability +
    the shared keeper tail (_PREFIX_KEEP_TAIL — identical keeper
    semantics across the fused dedup family). The sweep variant
    stages edges in a temp table so DuckDB doesn't re-evaluate the
    hashing CTE chain inside every recursive iteration."""
    from data_wrangler_spark.operators.pipeline_ops import _PREFIX_KEEP_TAIL

    accepted = f"""
    accepted AS (
      SELECT doc_a, doc_b FROM pairs
      WHERE bit_count(xor(pa, pb)) <= {PHASH_MAXD})"""
    if sweep:
        return f"""
    CREATE OR REPLACE TEMP TABLE mpk_edges AS
    WITH {_phash_pair_ctes()},
    {accepted}
    SELECT doc_a AS src, doc_b AS dst FROM accepted
    UNION ALL
    SELECT doc_b AS src, doc_a AS dst FROM accepted;
    WITH RECURSIVE reach AS (
      SELECT doc_id AS node, doc_id AS label FROM documents
      UNION
      SELECT e.dst AS node, r.label
      FROM reach r JOIN mpk_edges e ON e.src = r.node),
    {_PREFIX_KEEP_TAIL}
    """
    return f"""
    WITH RECURSIVE
    {_phash_pair_ctes()},
    {accepted},
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM accepted
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM accepted),
    reach AS (
      SELECT doc_id AS node, doc_id AS label FROM documents
      UNION
      SELECT e.dst AS node, r.label FROM reach r JOIN edges e ON e.src = r.node),
    {_PREFIX_KEEP_TAIL}
    """


@register("q_mm_phash", oracle=_phash_oracle(), tags=("llm", "multimodal", "dedup"))
def q_mm_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-dup detection for binary payloads — the
    dedup operator for the multimodal family (every other modality
    already has one). Pipeline: Arrow-batched mapInPandas computes a
    60-bit dHash per payload (_phash_stub — deterministic blockwise
    downsample standing in for a thumbnail; locality is real:
    near-dup payloads measure 0-2 bits apart, random pairs ~30);
    signatures band into 4 × 15-bit buckets (the q_dedup_simhash
    layout) so candidate pairs come from a bucket equi-join, never an
    all-pairs comparison; exact Hamming (bit_count of xor) accepts
    pairs within PHASH_MAXD bits. The DuckDB oracle replays hashing,
    banding, and verification bit-for-bit.

    Scale: one scan + Arrow hash pass (payloads never shuffle — only
    8-byte signatures leave the scan stage), one (band, bucket)
    exchange, and a bucket join whose fan-out is bounded by bucket
    occupancy (hot buckets would take q_dedup_minhash's MAX_BUCKET
    cap; at 15 bits/band none occur). This is how image near-dup runs
    at 100 TB: hash at ingest, store the 8-byte signature, dedup on
    signatures alone."""
    return _phash_verified_pairs(spark, sf_dir)


def _phash_banded_df(d: DataFrame) -> DataFrame:
    """Arrow hash pass + banding for a (doc_id, payload) frame →
    (doc_id, phash, band, bucket). Payloads never leave this plan
    fragment — everything downstream shuffles 8-byte signatures."""

    def hash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "phash": _phash_batch(pdf["payload"].to_list()),
                }
            )

    ph = d.mapInPandas(hash_batches, "doc_id bigint, phash bigint")
    mask = (1 << PHASH_BAND_BITS) - 1
    return ph.select(
        "doc_id",
        "phash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("phash", b * PHASH_BAND_BITS)
                        .bitwiseAND(F.lit(mask))
                        .alias("bucket"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bb"),
    ).select(
        "doc_id",
        "phash",
        F.col("bb.band").alias("band"),
        F.col("bb.bucket").alias("bucket"),
    )


def _phash_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared candidate+verify plan: Arrow hash pass → banded bucket
    equi-join → exact Hamming acceptance. Returns
    (doc_a, doc_b, hamming) with hamming ≤ PHASH_MAXD."""
    from data_wrangler_spark.functions.distributed import pin

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("payload")
    )
    # persisted: both sides of the self-join read the cached 32-byte
    # signature rows instead of re-running the payload scan + Arrow
    # hash pass (at 100 TB the hash pass is the dominant cost — it
    # must run once per payload, not once per join side)
    banded = pin(_phash_banded_df(d).persist())
    a = banded.select(
        "band", "bucket", F.col("doc_id").alias("doc_a"), F.col("phash").alias("pa")
    )
    b = banded.select(
        "band", "bucket", F.col("doc_id").alias("doc_b"), F.col("phash").alias("pb")
    )
    pairs = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "pa", "pb")
        .distinct()
    )
    hamming = F.bit_count(F.col("pa").bitwiseXOR(F.col("pb")))
    return (
        pairs.withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= PHASH_MAXD)
        .select("doc_a", "doc_b", "hamming")
    )


@register(
    "q_mm_phash_keep",
    oracle=_phash_keep_oracle(sweep=False),
    oracle_sweep=_phash_keep_oracle(sweep=True),
    tags=("llm", "multimodal", "dedup", "pipeline", "eager"),
)
def q_mm_phash_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-dup FUSED with the keeper decision — the
    multimodal dedup ACTION completing the fused-keeper matrix (every
    other dedup family already has one: q_dedup_prefix_keep,
    q_dedup_lsh_keep). Candidates and exact-Hamming acceptance are
    q_mm_phash's banded plan verbatim (never all-pairs); accepted
    pairs flow into min-label components and the per-component keeper
    window (largest payload wins, doc_id tiebreak) — ONE row per
    payload (doc_id, component, n_chars, keep), pairs never
    materialize as output. The DuckDB oracle replays hashing,
    banding, Hamming, the component recursion, and the keeper rank
    bit-for-bit (_PREFIX_KEEP_TAIL — shared with the other keepers).

    Scale: q_mm_phash's profile (payloads never shuffle — 8-byte
    signatures only; bucket-join fan-out bounded by 15-bit-band
    occupancy) plus O(component diameter) min-label rounds on the
    accepted-pair edge list — near-dup clusters are tiny and
    disconnected, so the propagation join touches edges, not the
    corpus. This is the ingest-time image dedup action at 100 TB:
    hash, bucket, verify, keep one payload per cluster."""
    from data_wrangler_spark.operators.pipeline_ops import _keeper_from_pairs

    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    pairs = _phash_verified_pairs(spark, sf_dir).select("doc_a", "doc_b")
    return _keeper_from_pairs(spark, d, pairs)


_PHASH_INC_SCRATCH = f"{ROOT}/phash_inc"


def _phash_inc_oracle() -> str:
    from data_wrangler_spark.operators.dedup import INC_EXIST_PCT

    return f"""
    WITH {_phash_banded_ctes()},
    pairs AS (
      SELECT DISTINCT n.doc_id AS doc_new, e.doc_id AS doc_old,
             n.phash AS pn, e.phash AS pe
      FROM banded n
      JOIN banded e ON e.band = n.band AND e.bucket = n.bucket
      WHERE n.doc_id % 10 >= {INC_EXIST_PCT}
        AND e.doc_id % 10 < {INC_EXIST_PCT})
    SELECT doc_new, doc_old, CAST(bit_count(xor(pn, pe)) AS INT) AS hamming
    FROM pairs
    WHERE bit_count(xor(pn, pe)) <= {PHASH_MAXD}
    """


@register(
    "q_mm_phash_incremental",
    oracle=_phash_inc_oracle(),
    tags=("llm", "multimodal", "dedup"),
)
def q_mm_phash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL multimodal near-dedup — "hash at ingest, store the
    8-byte signature" made literal (the q_dedup_incremental production
    shape applied to q_mm_phash): payloads with doc_id % 10 <
    INC_EXIST_PCT play the already-ingested corpus, whose BANDED
    SIGNATURES (band, bucket, doc_id, phash — never the payloads)
    persist once to scratch, partitioned by band. Today's batch hashes
    its own payloads (the vectorized Arrow pass), probes the stored
    index by one (band, bucket) equi-join, and verifies candidates
    with exact Hamming ≤ PHASH_MAXD. Output: (doc_new, doc_old,
    hamming). The DuckDB oracle replays index build and probe from raw
    payload bytes — the persisted hop is proven lossless.

    Scale: per ingest the work is O(new batch) — hash today's
    payloads, one equi-join against the signature index (8 bytes per
    stored payload + 16 bytes of band keys: a 100 TB image corpus
    carries a few GB of index), verify only bucket-collided pairs.
    History payloads are never re-read, never re-hashed, never
    self-paired. In production the day ends by appending today's
    (already-computed) bands to the index so tomorrow probes against
    them too; THIS operator deliberately leaves the index immutable —
    the harness contract requires deterministic reruns, and an append
    here would make the second run self-pair the batch (the rerun
    test pins exactly that). Either way the shape is the only
    affordable one at 100 TB image scale: each payload is touched
    once, at its own ingest; forever after only signatures move."""
    from data_wrangler_spark.operators.dedup import INC_EXIST_PCT

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("payload")
    )
    exist = F.col("doc_id") % 10 < INC_EXIST_PCT

    path = materialize(
        f"{_PHASH_INC_SCRATCH}/{scratch_tag(sf_dir)}",
        lambda p: _phash_banded_df(d.filter(exist))
        .repartition("band")
        .write.partitionBy("band")
        .parquet(p),
    )
    index = read_parquet(spark, path).select(
        "band",
        "bucket",
        F.col("doc_id").alias("doc_old"),
        F.col("phash").alias("pe"),
    )
    probe = _phash_banded_df(d.filter(~exist)).select(
        "band",
        "bucket",
        F.col("doc_id").alias("doc_new"),
        F.col("phash").alias("pn"),
    )
    pairs = (
        probe.join(index, ["band", "bucket"])
        .select("doc_new", "doc_old", "pn", "pe")
        .distinct()
    )
    hamming = F.bit_count(F.col("pn").bitwiseXOR(F.col("pe")))
    return (
        pairs.withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= PHASH_MAXD)
        .select("doc_new", "doc_old", "hamming")
    )
