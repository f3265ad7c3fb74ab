"""Offline ANN config tuner (round 9, VERDICT r8 #1).

Replays the three ANN families (hyperplane LSH, integer-kmeans IVF,
PQ-with-re-rank) in pure numpy — bit-faithful to the production
pipelines in operators/similarity.py — and measures recall@10 against
the exact cosine top-10 for a grid of configs. This is the feedback
loop for picking planes/bands/multiprobe, nlist/nprobe, and
m/ncent/shortlist BEFORE touching the Spark + oracle code.

Usage: python tools/ann_tune.py /root/testdata/sf0.1
       python tools/ann_tune.py --clustered [--queries 8]

--clustered generates (once, deterministic rng seed 42) a
mixture-of-Gaussians fixture at .scratch/ann_clustered — same row
count / dim / schema as sf0.1's embeddings but with real cluster
structure (20 centers, within-cluster std 0.05 of the unit sphere) —
and tunes against it. The driver fixtures are near-uniform (the
distance-concentration worst case), so candidate fractions measured
there are upper bounds; this fixture measures how the SAME production
knobs prune when embeddings look like production embeddings
(VERDICT r9 #6). --queries N averages recall/fraction over the N
lowest vec_ids instead of a single probe.
"""
from __future__ import annotations

import hashlib
import os
import sys

import numpy as np
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def md5_long(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def load(sf_dir: str):
    t = pq.read_table(f"{sf_dir}/embeddings.parquet")
    ids = np.asarray(t["vec_id"], dtype=np.int64)
    emb = np.vstack([np.asarray(x, dtype=np.float64) for x in t["embedding"].to_pylist()])
    order = np.argsort(ids)
    return ids[order], emb[order]


def exact_top10(ids, emb, qi):
    q = emb[qi]
    cos = (emb @ q) / (np.linalg.norm(emb, axis=1) * np.linalg.norm(q))
    mask = np.arange(len(ids)) != qi
    # rank by (cos desc, vec_id asc)
    cand = np.where(mask)[0]
    order = sorted(cand, key=lambda i: (-cos[i], ids[i]))
    return set(ids[order[:10]]), cos


def plane_weights(dim: int, n_planes: int) -> np.ndarray:
    return np.array(
        [
            [1 if hashlib.md5(f"{i},{p}".encode()).digest()[0] & 1 else -1 for i in range(dim)]
            for p in range(n_planes)
        ],
        dtype=np.float64,
    )


def lsh_recall(ids, emb, qi, exact, cos, n_planes, bits, probe_r):
    """bands = n_planes // bits; multi-probe flips up to probe_r bits
    of the QUERY bucket per band."""
    from itertools import combinations

    W = plane_weights(emb.shape[1], n_planes)
    bitsig = (emb @ W.T > 0).astype(np.int64)  # n × planes
    nbands = n_planes // bits
    bands = np.stack(
        [sum(bitsig[:, b * bits + r] << r for r in range(bits)) for b in range(nbands)],
        axis=1,
    )  # n × nbands
    qb = bands[qi]
    cand = np.zeros(len(ids), dtype=bool)
    for b in range(nbands):
        probes = {int(qb[b])}
        for r in range(1, probe_r + 1):
            for flip in combinations(range(bits), r):
                m = 0
                for f in flip:
                    m |= 1 << f
                probes.add(int(qb[b]) ^ m)
        cand |= np.isin(bands[:, b], list(probes))
    cand[qi] = False
    ci = np.where(cand)[0]
    order = sorted(ci, key=lambda i: (-cos[i], ids[i]))
    got = set(ids[order[:10]])
    return len(got & exact) / 10.0, cand.sum() / len(ids)


def kmeans_int(ids, emb, k, iters, q=1 << 20):
    X = np.floor(emb * q).astype(np.int64)
    sk = np.array([md5_long(str(v)) for v in ids])
    seed_order = np.lexsort((ids, sk))[:k]
    C = X[seed_order].copy()
    for _ in range(iters):
        d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        a = d.argmin(axis=1)
        newC = []
        for cl in range(C.shape[0]):
            m = a == cl
            if m.sum() == 0:
                continue
            s = X[m].sum(axis=0)
            n = int(m.sum())
            newC.append([int(v) // n if v >= 0 else -((-int(v)) // n) for v in s])
        C = np.array(newC, dtype=np.int64)
    d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
    a = d.argmin(axis=1)
    return X, C, a


def ivf_recall(ids, emb, qi, exact, cos, k, iters, nprobe):
    X, C, a = kmeans_int(ids, emb, k, iters)
    qd = ((X[qi][None, :] - C) ** 2).sum(axis=1)
    probe = set(np.argsort(qd, kind="stable")[:nprobe])
    cand = np.isin(a, list(probe))
    cand[qi] = False
    ci = np.where(cand)[0]
    order = sorted(ci, key=lambda i: (-cos[i], ids[i]))
    got = set(ids[order[:10]])
    return len(got & exact) / 10.0, cand.sum() / len(ids)


def pq_recall(ids, emb, qi, exact, cos, m, ncent, shortlist, q=1 << 20):
    X = np.floor(emb * q).astype(np.int64)
    sub = X.shape[1] // m
    sk = np.array([md5_long(str(v)) for v in ids])
    cb = X[np.lexsort((ids, sk))[:ncent]]
    adc = np.zeros(len(ids), dtype=np.int64)
    for mm in range(m):
        s = slice(mm * sub, (mm + 1) * sub)
        d = ((X[:, None, s] - cb[None, :, s]) ** 2).sum(axis=2)
        cm = d.argmin(axis=1)
        qd = ((X[qi][s][None, :] - cb[:, s]) ** 2).sum(axis=1)
        adc += qd[cm]
    mask = np.arange(len(ids)) != qi
    ci = np.where(mask)[0]
    sl = sorted(ci, key=lambda i: (int(adc[i]), ids[i]))[:shortlist]
    l2 = ((X[sl] - X[qi][None, :]) ** 2).sum(axis=1)
    order = sorted(range(len(sl)), key=lambda j: (int(l2[j]), ids[sl[j]]))
    got = set(ids[[sl[j] for j in order[:10]]])
    return len(got & exact) / 10.0, shortlist / len(ids)


def _clustered_path(n, dim, k, std, seed) -> str:
    # params-keyed fixture dir (ADVICE r10 #1): a bare existence guard
    # on a fixed path silently reuses a stale parquet after any
    # parameter change — the same trap scratch_tag(params=...) closes
    # for the engine's persisted indexes. Folding the generation
    # parameters into the directory name makes a changed config a
    # cache MISS by construction.
    from data_wrangler_spark.scratch import ROOT

    tag = f"n{n}_d{dim}_k{k}_s{std}_seed{seed}"
    return f"{ROOT}/ann_clustered_{tag}/embeddings.parquet"


def gen_clustered(n=2000, dim=64, k=20, std=0.05, seed=42) -> str:
    """Deterministic mixture-of-Gaussians fixture, schema-identical to
    the driver's embeddings table (vec_id int64, embedding
    list<float>, label int32 = true cluster). Centers are unit
    vectors; points are center + N(0, std) then re-normalized, so
    within-cluster cosines sit near 1 while cross-cluster cosines
    spread — the geometry real embedding models produce."""
    import os

    import pyarrow as pa

    CLUSTERED_PATH = _clustered_path(n, dim, k, std, seed)
    if os.path.exists(CLUSTERED_PATH):
        return CLUSTERED_PATH
    rng = np.random.default_rng(seed)
    centers = rng.standard_normal((k, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(0, k, size=n)
    X = centers[label] + rng.standard_normal((n, dim)) * std
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    os.makedirs(os.path.dirname(CLUSTERED_PATH), exist_ok=True)
    t = pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(
                [row.astype(np.float32) for row in X],
                type=pa.list_(pa.float32()),
            ),
            "label": pa.array(label.astype(np.int32)),
        }
    )
    pq.write_table(t, CLUSTERED_PATH)
    return CLUSTERED_PATH


def main():
    argv = sys.argv[1:]
    n_queries, clustered, args = 1, False, []
    i = 0
    while i < len(argv):
        if argv[i] == "--queries":
            if i + 1 >= len(argv):
                raise SystemExit("--queries needs a value")
            n_queries = int(argv[i + 1])
            i += 2
        elif argv[i] == "--clustered":
            clustered = True
            i += 1
        else:
            args.append(argv[i])
            i += 1
    if clustered:
        sf_dir = os.path.dirname(gen_clustered())
    else:
        sf_dir = args[0] if args else "/root/testdata/sf0.1"
    ids, emb = load(sf_dir)
    qis = list(range(n_queries))  # lowest vec_ids after sort
    probes = [(qi, *exact_top10(ids, emb, qi)) for qi in qis]
    print(f"{sf_dir}: n={len(ids)} dim={emb.shape[1]} queries={n_queries}")

    def avg(fn, *cfg):
        rs, fs = zip(*(fn(ids, emb, qi, ex, cos, *cfg) for qi, ex, cos in probes))
        return sum(rs) / len(rs), sum(fs) / len(fs)

    print("-- LSH (n_planes, bits/band, probe_radius) --")
    for np_, bits, pr in [
        (16, 4, 0), (16, 4, 1), (16, 4, 2),
        (24, 4, 1), (24, 4, 2),
        (32, 4, 1), (32, 4, 2),
        (32, 8, 2), (32, 8, 3),
        (24, 3, 1), (24, 3, 2),
        (16, 2, 0), (16, 2, 1),
        # sharper buckets — these prune only on clustered corpora
        (24, 8, 0), (24, 8, 1), (32, 8, 0), (32, 8, 1),
    ]:
        r, frac = avg(lsh_recall, np_, bits, pr)
        print(f"planes={np_:3d} bits={bits} probe_r={pr}: recall={r:.2f} cand_frac={frac:.3f}")
    print("-- IVF (k, nprobe) --")
    for k, npr in [(8, 4), (8, 5), (8, 6), (16, 4), (16, 6), (16, 8), (32, 8), (32, 12),
                   # sharper cells — these prune only on clustered corpora
                   (32, 2), (32, 3), (32, 4), (64, 4), (64, 6), (64, 8)]:
        r, frac = avg(ivf_recall, k, 4, npr)
        print(f"k={k:3d} nprobe={npr:2d}: recall={r:.2f} cand_frac={frac:.3f}")
    print("-- PQ (m, ncent, shortlist) --")
    for m, nc, sl in [(8, 16, 64), (8, 16, 128), (8, 16, 256), (8, 16, 512), (8, 32, 128), (8, 32, 256), (16, 16, 256)]:
        r, frac = avg(pq_recall, m, nc, sl)
        print(f"m={m:2d} ncent={nc:2d} shortlist={sl:3d}: recall={r:.2f} cand_frac={frac:.3f}")


if __name__ == "__main__":
    main()
