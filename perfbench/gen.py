"""Seeded input generator for the three benchmark workloads.

Each (workload, seed, size) input is generated once, in a single
process, into its own directory under the benchmark's work tree and
marked complete with a ``_DONE`` file; later runs reuse it.  The
benchmark calls :func:`generate` before any timed region.  The engine
only ever sees the files written here.  The planted truth the oracles
need (duplicate groups, init centroids) is written next to them.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np

# Workload sizes.  ``full`` is what the benchmark measures; ``tiny`` is
# the smoke-test size of the benchmark's own tests.
SIZES = {
    "kmeans_csv_job": {
        "full": {"n_points": 100_000, "k": 8, "supersteps": 10},
        "tiny": {"n_points": 2_000, "k": 8, "supersteps": 3},
    },
    "dedup_minhash_cc": {
        "full": {"n_docs": 10_000},
        "tiny": {"n_docs": 600},
    },
    "ivf_retrieval": {
        "full": {"n_vecs": 2_000, "dim": 64, "n_blobs": 32, "n_queries": 64,
                 "k": 16, "iterations": 3},
        "tiny": {"n_vecs": 400, "dim": 16, "n_blobs": 8, "n_queries": 8,
                 "k": 4, "iterations": 2},
    },
}
WORKLOADS = tuple(SIZES)

# Zipf-ish document vocabulary, as in scripts/scale_bench.py: ~30% of
# tokens come from these hot words, the rest from a 20k-word tail.
HOT_WORDS = (
    "batch part spark line column order small sort fast value scan hash "
    "slow group agg filter query big key window row table stream merge "
    "data a the vector customer join".split()
)
LANGS = ("en", "de", "zh", "fr", "es")
EXACT_DUP_RATE = 0.03
NEAR_DUP_RATE = 0.03
NEAR_DUP_EDITS = 2


def _rng(workload: str, seed: int) -> np.random.Generator:
    return np.random.default_rng([WORKLOADS.index(workload), int(seed)])


def gen_kmeans(out: str, rng: np.random.Generator, n_points: int, k: int,
               supersteps: int) -> dict:
    """``make_blobs``-style points (8 centers in [-10, 10]², std 0.6) and
    a seeded k-row centroid file drawn uniformly from the same box."""
    centers = rng.uniform(-10.0, 10.0, size=(8, 2))
    labels = rng.integers(0, 8, size=n_points)
    pts = centers[labels] + rng.normal(0.0, 0.6, size=(n_points, 2))
    init = rng.uniform(-10.0, 10.0, size=(k, 2))
    # %.17g round-trips every double, so the engine parses exactly the
    # values the oracle holds in memory
    np.savetxt(os.path.join(out, "points.csv"), pts, fmt="%.17g",
               delimiter=",", header="X,Y", comments="")
    with open(os.path.join(out, "centroids.csv"), "w") as f:
        f.write("Cluster,X,Y\n")
        for i, (x, y) in enumerate(init):
            f.write(f"{i},{x:.17g},{y:.17g}\n")
    np.save(os.path.join(out, "points.npy"), pts)
    np.save(os.path.join(out, "init.npy"), init)
    return {"rows": n_points, "k": k, "supersteps": supersteps}


def gen_dedup(out: str, rng: np.random.Generator, n_docs: int) -> dict:
    """~300-char documents with exact and near duplicates planted at a
    constant rate; each copy's source is an earlier document, so the
    min-id representative of every planted group is an original."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    lengths = rng.integers(35, 66, size=n_docs)
    total = int(lengths.sum())
    hot = np.array(HOT_WORDS, dtype=object)[rng.integers(0, len(HOT_WORDS), total)]
    tail = np.char.add("w", rng.integers(0, 20_000, total).astype(str)).astype(object)
    toks = np.where(rng.random(total) < 0.3, hot, tail)
    docs = []
    off = 0
    for ln in lengths:
        docs.append(list(toks[off:off + ln]))
        off += ln
    kind = rng.random(n_docs)
    source = [-1] * n_docs
    for i in range(10, n_docs):
        if kind[i] < EXACT_DUP_RATE + NEAR_DUP_RATE:
            j = i - int(rng.integers(1, 50))
            source[i] = j
            docs[i] = list(docs[j])
            if kind[i] >= EXACT_DUP_RATE:
                for p in rng.choice(len(docs[i]), NEAR_DUP_EDITS, replace=False):
                    docs[i][p] = f"edit{int(rng.integers(0, 1_000_000))}"
    texts = [" ".join(d) for d in docs]
    pq.write_table(
        pa.table({
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([LANGS[i % len(LANGS)] for i in range(n_docs)], pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }),
        os.path.join(out, "documents.parquet"),
    )
    exact = [i for i in range(n_docs) if source[i] >= 0 and kind[i] < EXACT_DUP_RATE]
    near = [i for i in range(n_docs) if source[i] >= 0 and kind[i] >= EXACT_DUP_RATE]
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump({"n_docs": n_docs, "exact_dups": exact, "near_dups": near,
                   "source": source, "langs": list(LANGS)}, f)
    return {"rows": n_docs}


def gen_ivf(out: str, rng: np.random.Generator, n_vecs: int, dim: int,
            n_blobs: int, n_queries: int, k: int, iterations: int) -> dict:
    """float32 vectors in ``n_blobs`` Gaussian clusters, held-out queries
    from the same mixture, and k seeded corpus rows as init centroids."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    centers = rng.normal(0.0, 1.0, size=(n_blobs, dim))

    def draw(n: int) -> np.ndarray:
        lab = rng.integers(0, n_blobs, size=n)
        return (centers[lab] + rng.normal(0.0, 0.35, size=(n, dim))).astype(np.float32)

    vecs, queries = draw(n_vecs), draw(n_queries)
    init_rows = rng.choice(n_vecs, size=k, replace=False)
    pq.write_table(
        pa.table({
            "vec_id": pa.array(range(n_vecs), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(np.zeros(n_vecs, np.int32), pa.int32()),
        }),
        os.path.join(out, "embeddings.parquet"),
    )
    pq.write_table(
        pa.table({
            "query_id": pa.array(range(n_queries), pa.int64()),
            "embedding": pa.array(list(queries), pa.list_(pa.float32())),
        }),
        os.path.join(out, "queries.parquet"),
    )
    np.save(os.path.join(out, "vectors.npy"), vecs)
    np.save(os.path.join(out, "queries.npy"), queries)
    np.save(os.path.join(out, "init.npy"), vecs[init_rows].astype(np.float64))
    return {"rows": n_vecs, "k": k, "iterations": iterations}


GENERATORS = {
    "kmeans_csv_job": gen_kmeans,
    "dedup_minhash_cc": gen_dedup,
    "ivf_retrieval": gen_ivf,
}


def input_dir(root: str, workload: str, seed: int, size: str) -> str:
    return os.path.join(root, f"{workload}-s{seed}-{size}")


def generate(root: str, workload: str, seed: int, size: str = "full") -> str:
    """Generate one input set unless it already exists; return its dir."""
    d = input_dir(root, workload, seed, size)
    if os.path.exists(os.path.join(d, "_DONE")):
        return d
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    meta = GENERATORS[workload](d, _rng(workload, seed), **SIZES[workload][size])
    meta.update(workload=workload, seed=seed, size=size)
    with open(os.path.join(d, "meta.json"), "w") as f:
        json.dump(meta, f)
    open(os.path.join(d, "_DONE"), "w").close()
    return d


def load_meta(d: str) -> dict:
    with open(os.path.join(d, "meta.json")) as f:
        return json.load(f)
