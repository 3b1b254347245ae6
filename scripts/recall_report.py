"""ANN recall@k report: every approximate index vs exact brute force.

VERDICT r05 item 4: the ANN family (IVF given/trained, LSH, int8, PQ
first/trained, binary Hamming) is correctness-checked — deterministic
shortlist + rerank — but an index can be deterministic AND low-recall.
This script measures recall@k against the exact answer on the real
sf0.1 embeddings over a deterministic query panel and writes
docs/RECALL.md + docs/recall.json; tests/test_recall.py asserts floors
off the same `measure_recalls` function.

THE NUMBER THAT MATTERS IS LIFT, NOT RAW RECALL.  The synthetic
embeddings are isotropic random vectors (measured: a query's top-10
shares its `label` 8% of the time — exactly the 10-label random rate;
mean same-label cosine ≈ mean cross-label cosine ≈ 0).  On data with
no cluster structure, ANY partition-probe index (IVF, LSH) is
information-theoretically capped at ~scanned-fraction recall, and a
shortlist method's recall measures only its proxy-score fidelity.  So
each method is reported as (recall, scanned_frac, lift =
recall / scanned_frac): lift ≈ 1 means the index adds nothing beyond
its scan budget (true for IVF over the geometry-free `label` column —
the null baseline), lift >> 1 means the proxy genuinely ranks.
On a real clustered corpus the same harness applies unchanged.

Ground truth is computed driver-side in numpy (the corpus is collected
ONCE — at report scale that's 2000×64 doubles; production recall evals
swap this for `knn_join`, the distributed exact batch path, which
`q_ann_recall` exercises end-to-end with a DuckDB oracle).  The numpy
ranking replicates `topk_cosine` exactly: similarity rounded to 6
decimals BEFORE ranking, ties broken by id ascending; the PQ methods
rank by squared L2 (their contract), so their truth set does too.

Usage: python scripts/recall_report.py [--sf-dir DIR] [--queries N]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Floors asserted by tests/test_recall.py (conservative vs the measured
# sf0.1 panel — see docs/RECALL.md for the measured values).
RECALL_FLOORS = {
    "ivf_given_2probe": ("recall", 0.15),   # null baseline: label is geometry-free
    "ivf_trained_2probe": ("lift", 1.5),    # k-means must beat its scan budget
    "lsh_4planes_h1": ("lift", 1.2),
    "int8_short50": ("recall", 0.95),       # near-exact proxy
    "hamming_short50": ("lift", 8.0),       # 2.5% scan must rank strongly
    "pq_first_short50": ("lift", 8.0),
    "pq_trained_short50": ("lift", 10.0),
}


def _true_topk(ids, mat, q, k, metric="cosine"):
    """Exact top-k ids by rounded metric, id-ascending tie-break —
    the same deterministic contract as topk_cosine / ann_pq."""
    import numpy as np

    if metric == "cosine":
        sims = mat @ q / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
        keys = np.round(sims, 6)
        order = sorted(range(len(ids)), key=lambda i: (-keys[i], ids[i]))
    else:  # squared L2
        d2 = ((mat - q) ** 2).sum(axis=1)
        keys = np.round(d2, 6)
        order = sorted(range(len(ids)), key=lambda i: (keys[i], ids[i]))
    return {int(ids[i]) for i in order[:k]}


def measure_recalls(spark, sf_dir, n_queries=16, k=10):
    """Mean recall@k per ANN method over a deterministic query panel
    (every (N // n_queries)-th vector by id).  Returns
    {method: {"recall", "scanned_frac", "lift", "n_queries", "k"}}."""
    import math

    import numpy as np
    from pyspark.sql import functions as F

    from flink_kmeans_clustering_spark.operators.kmeans import (
        assign_points_nd,
        lloyd_nd,
    )
    from flink_kmeans_clustering_spark.operators.similarity import (
        ann_binary,
        ann_lsh,
        ann_pq,
        ann_quantized,
        ann_search,
        cell_centroids,
        pq_codebooks_first,
        pq_codebooks_trained,
        random_hyperplanes,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "label", "embedding"
    )
    emb.cache().count()
    rows = emb.select("vec_id", "label", "embedding").orderBy("vec_id").collect()
    ids = np.array([int(r["vec_id"]) for r in rows])
    labels = np.array([int(r["label"]) for r in rows])
    mat = np.array([[float(v) for v in r["embedding"]] for r in rows])
    n = len(ids)
    stride = max(1, n // n_queries)
    panel = [(int(ids[i]), mat[i]) for i in range(0, n, stride)][:n_queries]

    # Indexes trained / derived ONCE (the production shape: build at
    # ingest, reuse per query)
    given_cents = [
        (r["cell"], list(r["centroid"]))
        for r in cell_centroids(emb, "label").collect()
    ]
    given_sizes = {
        int(c): int((labels == c).sum()) for c in np.unique(labels)
    }
    init = [list(mat[i]) for i in range(8)]
    tr_cents, _w, tr_ids = lloyd_nd(
        emb.select("vec_id", "embedding"), init, max_iterations=3
    )
    assigned = assign_points_nd(
        emb, tr_cents, centroid_ids=tr_ids, cluster_col="cell"
    ).cache()
    tr_sizes = {
        int(r["cell"]): int(r["n"])
        for r in assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    books_first = pq_codebooks_first(emb, m=8, k=16)
    books_trained = pq_codebooks_trained(emb, m=8, k=16, iters=3)

    # LSH bucket sizes, replayed driver-side from the same hyperplanes
    planes = np.array(random_hyperplanes(4, mat.shape[1], seed=7))
    buckets = ((mat @ planes.T) > 0.0) @ (1 << np.arange(4))
    bucket_sizes = {int(b): int((buckets == b).sum()) for b in np.unique(buckets)}

    def _cos(a, b):
        num = float(np.dot(a, b))
        den = float(np.linalg.norm(a) * np.linalg.norm(b))
        return num / den if den else 0.0

    def _ivf_frac(q, cents, sizes, n_probe):
        ranked = sorted(cents, key=lambda c: (-_cos(np.array(c[1]), q), c[0]))
        return sum(sizes.get(int(c[0]), 0) for c in ranked[:n_probe]) / n

    def _lsh_frac(q):
        qb = int(((q @ planes.T) > 0.0) @ (1 << np.arange(4)))
        probe = {qb} | {qb ^ (1 << i) for i in range(4)}
        return sum(bucket_sizes.get(b, 0) for b in probe) / n

    methods = {
        "ivf_given_2probe": (
            "cosine",
            lambda q: ann_search(emb, given_cents, q, k=k, n_probe=2),
            lambda q: _ivf_frac(q, given_cents, given_sizes, 2),
        ),
        "ivf_trained_2probe": (
            "cosine",
            lambda q: ann_search(
                assigned, list(zip(tr_ids, tr_cents)), q, k=k,
                n_probe=2, cell_col="cell",
            ),
            lambda q: _ivf_frac(q, list(zip(tr_ids, tr_cents)), tr_sizes, 2),
        ),
        "lsh_4planes_h1": (
            "cosine",
            lambda q: ann_lsh(emb, q, k=k, n_planes=4, seed=7, max_hamming=1),
            _lsh_frac,
        ),
        "int8_short50": (
            "cosine",
            lambda q: ann_quantized(emb, q, k=k, shortlist=50),
            lambda q: 50 / n,
        ),
        "hamming_short50": (
            "cosine",
            lambda q: ann_binary(emb, q, k=k, shortlist=50),
            lambda q: 50 / n,
        ),
        "pq_first_short50": (
            "l2",
            lambda q: ann_pq(emb, q, books_first, k=k, shortlist=50),
            lambda q: 50 / n,
        ),
        "pq_trained_short50": (
            "l2",
            lambda q: ann_pq(emb, q, books_trained, k=k, shortlist=50),
            lambda q: 50 / n,
        ),
    }

    out = {}
    for name, (metric, fn, frac_fn) in methods.items():
        hits = 0
        fracs = []
        for qid, qvec in panel:
            truth = _true_topk(ids, mat, qvec, k, metric)
            got = {
                int(r["vec_id"]) for r in fn(list(qvec)).select("vec_id").collect()
            }
            hits += len(truth & got)
            fracs.append(frac_fn(qvec))
        recall = hits / (k * len(panel))
        frac = sum(fracs) / len(fracs)
        out[name] = {
            "recall": round(recall, 4),
            "scanned_frac": round(frac, 4),
            "lift": round(recall / frac, 2) if frac else math.inf,
            "n_queries": len(panel),
            "k": k,
        }
    assigned.unpersist()
    emb.unpersist()
    return out


def measure_recall_curve(spark, sf_dir, n_queries=16, k=10):
    """Recall vs scan-budget knob for the three tunable families —
    the curve that tells a 100 TB operator what n_probe/shortlist buys."""
    import numpy as np
    from pyspark.sql import functions as F

    from flink_kmeans_clustering_spark.operators.kmeans import (
        assign_points_nd,
        lloyd_nd,
    )
    from flink_kmeans_clustering_spark.operators.similarity import (
        ann_binary,
        ann_pq,
        ann_search,
        pq_codebooks_trained,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    emb.cache().count()
    rows = emb.orderBy("vec_id").collect()
    ids = np.array([int(r["vec_id"]) for r in rows])
    mat = np.array([[float(v) for v in r["embedding"]] for r in rows])
    n = len(ids)
    stride = max(1, n // n_queries)
    panel = [mat[i] for i in range(0, n, stride)][:n_queries]

    init = [list(mat[i]) for i in range(8)]
    tr_cents, _w, tr_ids = lloyd_nd(emb, init, max_iterations=3)
    assigned = assign_points_nd(
        emb, tr_cents, centroid_ids=tr_ids, cluster_col="cell"
    ).cache()
    assigned.count()
    books = pq_codebooks_trained(emb, m=8, k=16, iters=3)

    sweeps = {
        "ivf_trained": (
            "cosine",
            {f"probes={p}": (lambda q, p=p: ann_search(
                assigned, list(zip(tr_ids, tr_cents)), q, k=k,
                n_probe=p, cell_col="cell")) for p in (1, 2, 4, 8)},
        ),
        "hamming": (
            "cosine",
            {f"shortlist={s}": (lambda q, s=s: ann_binary(
                emb, q, k=k, shortlist=s)) for s in (50, 100, 200, 400)},
        ),
        "pq_trained": (
            "l2",
            {f"shortlist={s}": (lambda q, s=s: ann_pq(
                emb, q, books, k=k, shortlist=s)) for s in (50, 100, 200, 400)},
        ),
    }
    out = {}
    for fam, (metric, cfgs) in sweeps.items():
        out[fam] = {}
        for label, fn in cfgs.items():
            hits = 0
            for qvec in panel:
                truth = _true_topk(ids, mat, qvec, k, metric)
                got = {
                    int(r["vec_id"])
                    for r in fn(list(qvec)).select("vec_id").collect()
                }
                hits += len(truth & got)
            out[fam][label] = round(hits / (k * len(panel)), 4)
    assigned.unpersist()
    emb.unpersist()
    return out


def measure_matryoshka_curve(spark, sf_dir, n_queries=16, k=10,
                             dims_levels=(8, 16, 32, 64)):
    """Recall@k of EXACT search under prefix-dim truncation vs the
    full-dim truth — the numpy twin of `q_embed_matryoshka` (which
    computes the same curve distributedly under a DuckDB oracle).
    This is the 'how many prefix dims does a coarse pass need' knob,
    measured on the same panel as the index families so the curves
    compose: an MRL-style tiered index pays prefix-dims × shortlist
    where a flat index pays full-dims × corpus."""
    import numpy as np

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    rows = emb.orderBy("vec_id").collect()
    ids = np.array([int(r["vec_id"]) for r in rows])
    mat = np.array([[float(v) for v in r["embedding"]] for r in rows])
    n = len(ids)
    stride = max(1, n // n_queries)
    panel = [mat[i] for i in range(0, n, stride)][:n_queries]
    out = {}
    full = mat.shape[1]
    for d in dims_levels:
        hits = 0
        for qvec in panel:
            truth = _true_topk(ids, mat, qvec, k, "cosine")
            got = _true_topk(ids, mat[:, :d], qvec[:d], k, "cosine")
            hits += len(truth & got)
        out[f"dims={d}" + ("(full)" if d == full else "")] = round(
            hits / (k * len(panel)), 4
        )
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    ap.add_argument("--queries", type=int, default=32)
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--skip-curve", action="store_true")
    args = ap.parse_args()

    from flink_kmeans_clustering_spark import get_spark

    spark = get_spark(app_name="recall-report")
    res = measure_recalls(spark, args.sf_dir, n_queries=args.queries, k=args.k)
    curve = (
        {} if args.skip_curve
        else measure_recall_curve(spark, args.sf_dir, n_queries=16, k=args.k)
    )
    mat_curve = measure_matryoshka_curve(
        spark, args.sf_dir, n_queries=16, k=args.k
    )

    docs = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "docs"
    )
    with open(os.path.join(docs, "recall.json"), "w") as fh:
        json.dump(
            {"sf_dir": args.sf_dir, "k": args.k, "methods": res,
             "curve": curve, "matryoshka": mat_curve},
            fh, indent=1,
        )
    md = [
        f"# ANN recall@{args.k} vs exact brute force (generated)",
        "",
        f"`python scripts/recall_report.py` at `{args.sf_dir}`, "
        f"{args.queries}-query deterministic panel (every N/{args.queries}-th "
        "vector by id).  Truth = exact rounded-cosine top-k (rounded-L2 for "
        "the PQ rows), id tie-break — the same contract the operators pin.",
        "",
        "**Read the lift column.**  These synthetic embeddings are isotropic "
        "(a query's top-10 shares its `label` at exactly the random rate), so "
        "partition-probe recall is capped at ~scanned fraction; lift = "
        "recall / scanned_frac is what the index adds.  `ivf_given` probes "
        "the geometry-free `label` partitions — the designed null baseline "
        "(lift ≈ 1).",
        "",
        "| method | recall | scanned frac | lift | floor (tests) |",
        "|---|---|---|---|---|",
    ]
    for m, r in sorted(res.items(), key=lambda kv: -kv[1]["lift"]):
        kind, floor = RECALL_FLOORS.get(m, ("recall", "-"))
        md.append(
            f"| {m} | {r['recall']} | {r['scanned_frac']} | {r['lift']} "
            f"| {kind} ≥ {floor} |"
        )
    if curve:
        md += [
            "",
            "## Recall vs scan budget (16-query panel)",
            "",
            "| family | " + " | ".join(
                next(iter(curve.values())).keys()
            ) + " |",
            "|---|" + "---|" * len(next(iter(curve.values()))),
        ]
        for fam, pts in curve.items():
            md.append(f"| {fam} | " + " | ".join(str(v) for v in pts.values()) + " |")
    if mat_curve:
        md += [
            "",
            "## Matryoshka prefix-dims curve (exact search, truncated dims)",
            "",
            "Recall@k of exact search over the first d dims vs the full-dim "
            "truth (in-engine twin: `q_embed_matryoshka`, DuckDB-oracled).  "
            "An MRL-style tiered index pays prefix-dims × shortlist where a "
            "flat scan pays full-dims × corpus — on THIS isotropic corpus "
            "truncation loses signal fast (random directions don't "
            "concentrate information in the prefix), which is itself the "
            "measurement: run this before buying the tiered layout.",
            "",
            "| " + " | ".join(mat_curve.keys()) + " |",
            "|---|" + "---|" * (len(mat_curve) - 1),
            "| " + " | ".join(str(v) for v in mat_curve.values()) + " |",
        ]
    with open(os.path.join(docs, "RECALL.md"), "w") as fh:
        fh.write("\n".join(md) + "\n")
    print(json.dumps({"methods": res, "curve": curve}, indent=1))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
