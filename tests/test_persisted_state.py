"""The versioned persisted artifacts — the erasure tables behind
q_delete_rows and q_snapshot_commit, and q_embed_index_rebuild's
rebuilt index — publish through scratch.materialize like every other
artifact: a cold key builds once under concurrency, a root left in any
older crash state rebuilds, and a copied root answers the same or
rebuilds. Every answer is checked against the query's DuckDB oracle,
on a scratch root under tmp_path."""

import os
import shutil
import threading
from functools import lru_cache

import pytest

from data_wrangler_spark import REGISTRY
from data_wrangler_spark.catalog import load_table
from data_wrangler_spark.operators import dedup, io_formats
from data_wrangler_spark.scratch import MARKER, read_manifest
from tools.verify_local import approx_equal, duck_con, normalize


def rows_of(df) -> list[tuple]:
    cols = sorted(df.columns)
    return normalize([tuple(r[c] for c in cols) for r in df.collect()])


@lru_cache(maxsize=None)
def oracle_rows(name: str, sf_dir: str) -> list[tuple]:
    cur = duck_con(sf_dir).execute(REGISTRY[name].oracle)
    names = [d[0] for d in cur.description]
    order = sorted(range(len(names)), key=names.__getitem__)
    return normalize([tuple(r[i] for i in order) for r in cur.fetchall()])


def assert_oracle(spark, sf_dir: str, name: str) -> None:
    want = oracle_rows(name, sf_dir)
    assert want, f"{name}: the oracle returns no rows at {sf_dir}"
    assert approx_equal(rows_of(REGISTRY[name].run(spark, sf_dir)), want)


@pytest.fixture
def roots(tmp_path, monkeypatch):
    """Point the io and embed_2day scratch roots at ``tmp_path / at``."""

    def point(at: str) -> str:
        monkeypatch.setattr(io_formats, "_IO_SCRATCH", str(tmp_path / at / "io"))
        monkeypatch.setattr(
            dedup, "_EMB_2DAY_SCRATCH", str(tmp_path / at / "embed_2day")
        )
        return str(tmp_path / at)

    point("a")
    return point


@pytest.fixture
def manifests(monkeypatch):
    """Count the manifests the erasure and rebuild builds write."""
    written = []
    for mod in (io_formats, dedup):
        real = mod.write_manifest

        def counted(base, version, body, real=real):
            written.append((base, version))
            return real(base, version, body)

        monkeypatch.setattr(mod, "write_manifest", counted)
    return written


def test_concurrent_cold_snapshot_commit_builds_once(spark, sf_dir, roots, manifests):
    """8 threads on one cold q_snapshot_commit: one build (two
    manifests, one set of data files), and every caller reads the
    oracle's rows."""
    got, errors = [], []
    start = threading.Barrier(8)

    def caller():
        start.wait()
        try:
            got.append(rows_of(REGISTRY["q_snapshot_commit"].run(spark, sf_dir)))
        except Exception as exc:  # noqa: BLE001 — reported below
            errors.append(exc)

    threads = [threading.Thread(target=caller) for _ in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    want = oracle_rows("q_snapshot_commit", sf_dir)
    assert len(got) == 8 and all(approx_equal(g, want) for g in got)

    base = io_formats._erasure_path(sf_dir, io_formats.SNAPSHOT_MOD)
    assert manifests == [(base, 1), (base, 2)]
    listed = set(read_manifest(base, 1)["files"]) | set(read_manifest(base)["files"])
    assert {f"data/{f}" for f in os.listdir(f"{base}/data")} == listed


def _snapshot_left_at_v1(spark, sf_dir):
    """An older snapshot commit killed between its two manifests:
    v1 committed, CURRENT → v1, no v2."""
    REGISTRY["q_snapshot_commit"].run(spark, sf_dir)
    base = io_formats._erasure_path(sf_dir, io_formats.SNAPSHOT_MOD)
    v2 = set(read_manifest(base)["files"]) - set(read_manifest(base, 1)["files"])
    for p in v2:
        os.remove(f"{base}/{p}")
    os.remove(f"{base}/manifest-v2.json")
    os.remove(f"{base}/{MARKER}")
    with open(f"{base}/CURRENT", "w") as fh:
        fh.write("manifest-v1.json")


def _delete_mid_rename(spark, sf_dir):
    """An older q_delete_rows killed inside its rename chain: the
    bucketed table with bucket 3 moved aside to ``old_bucket_3``."""
    import pyspark.sql.functions as F

    base = io_formats._erasure_path(sf_dir, io_formats.DELETE_MOD)
    load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars",
        F.pmod(F.hash("doc_id"), F.lit(8)).alias("bucket"),
    ).write.partitionBy("bucket").parquet(f"{base}/table")
    os.replace(f"{base}/table/bucket=3", f"{base}/old_bucket_3")


def _embed_without_v2(spark, sf_dir):
    """An older embed rebuild killed after its v1 commit: the marked
    two-day root holds an index manifest for day0 + day1 and no v2."""
    base = dedup._ensure_embed_2day_built(spark, sf_dir)
    with open(f"{base}/INDEX-v1.json", "w") as fh:
        fh.write('{"version": 1, "centroids": "centroids", "members": ["day0", "day1"]}')
    with open(f"{base}/CURRENT_INDEX", "w") as fh:
        fh.write("INDEX-v1.json")


@pytest.mark.parametrize(
    "name, crash",
    [
        ("q_snapshot_commit", _snapshot_left_at_v1),
        ("q_delete_rows", _delete_mid_rename),
        ("q_embed_index_rebuild", _embed_without_v2),
    ],
)
def test_crashed_and_copied_roots_rebuild_to_the_oracle(
    spark, sf_dir, roots, manifests, tmp_path, name, crash
):
    """A root left in an older crash state is rebuilt (both manifests
    written again) and answers the oracle; the warm root, copied to
    another scratch root, answers the oracle there too — by a rebuild,
    never by serving the copy's stale paths as 0 rows."""
    crash(spark, sf_dir)
    del manifests[:]
    assert_oracle(spark, sf_dir, name)
    assert [v for _, v in manifests] == [1, 2]
    assert_oracle(spark, sf_dir, name)  # warm: no further build
    assert [v for _, v in manifests] == [1, 2]

    shutil.copytree(tmp_path / "a", tmp_path / "b")
    roots("b")
    assert_oracle(spark, sf_dir, name)
    rebuilt = manifests[2:]
    assert [v for _, v in rebuilt] == [1, 2]
    assert all(base.startswith(str(tmp_path / "b")) for base, _ in rebuilt)
