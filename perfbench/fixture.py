"""Deterministic synthetic tables in the layout the engine serves.

The engine reads ten parquet tables from one directory (see
`data_wrangler_spark/catalog.py:TABLES`). This module writes them from
a fixed seed, with the column names, physical types and value shapes
of the repository's test fixtures (TESTDATA.md): a TPC-H-like star
(region … lineitem), an `events` stream, `documents` (word-salad text
with ~5% near-duplicate copies, which is what the dedup queries search
for) and `embeddings` (64-d float vectors around 10 label centroids).

Row counts scale linearly with ``scale`` in units of the sf0.1
fixture: ``scale=1.0`` writes 600k lineitem rows, 5k documents.
The output directory is written to a temp name and renamed into
place, so a directory that exists is complete.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_SEED = 42

# rows per table at scale=1.0 (the sf0.1 fixture's counts)
ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
    "users": 1_500,
}

_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_NAME_WORDS = "large hot blue cold small green red dark".split()
_NAME_NOUNS = "ring bolt widget anvil gear spring valve chain".split()
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_LANG_P = [0.15, 0.41, 0.15, 0.14, 0.15]


def _days(start: dt.date, n_days: int, rng, size) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, size).astype("timedelta64[D]")


def _money(rng, lo: float, hi: float, size) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size), 2)


def _tables(scale: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = {k: max(5, int(round(v * scale))) for k, v in ROWS.items()}
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )

    nc = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, nc)],
        }
    )

    ns = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )

    npart = n["part"]
    pk = np.arange(npart)
    names = np.array([f"{a} {b}" for a in _NAME_WORDS for b in _NAME_NOUNS])
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(pk, pa.int64()),
            "p_name": names[rng.integers(0, len(names), npart)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
            "p_type": np.array(_PART_TYPES)[rng.integers(0, 6, npart)],
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
        }
    )

    no = n["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, no),
            "o_orderdate": _days(dt.date(1995, 1, 1), 2405, rng, no),
            "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, no)],
        }
    )

    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(500.0, 5000.0, nl), 2),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
            "l_shipdate": _days(dt.date(1995, 1, 2), 2498, rng, nl),
        }
    )

    ne = n["events"]
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.choice(span_us, ne, replace=False))
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": pa.array(np.datetime64("2024-01-01", "us") + ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n["users"], ne), pa.int64()),
            "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, ne)],
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )

    nd = n["documents"]
    texts: list[str] = []
    for i in range(nd):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(8, 100))
            texts.append(" ".join(np.array(_WORDS)[rng.integers(0, len(_WORDS), k)]))
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(nd), pa.int64()),
            "text": texts,
            "lang": np.array(_LANGS)[rng.choice(5, nd, p=_LANG_P)],
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )

    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centroids = rng.normal(0.0, 0.15, (10, 64))
    vecs = (centroids[labels] + rng.normal(0.0, 0.1, (nv, 64))).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(nv), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return out


def ensure(parent: str, scale: float) -> str:
    """The fixture directory for ``scale`` under ``parent``, written
    unless it is already there. Its name carries a digest of this
    file, so a changed generator never reuses an old fixture (or
    anything cached against one)."""
    with open(__file__, "rb") as f:
        digest = hashlib.sha1(f.read()).hexdigest()[:10]
    out_dir = os.path.join(parent, f"fixture-{scale:g}-{digest}")
    if os.path.isdir(out_dir):
        return out_dir
    tmp = f"{out_dir}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in _tables(scale, FIXTURE_SEED).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    os.replace(tmp, out_dir)
    return out_dir
