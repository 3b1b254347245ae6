"""Independent numpy / pure-Python oracles for the benchmark jobs.

``expect(workload, data)`` computes what a correct job must produce from
the generated inputs alone (no Spark); ``check(workload, exp, summary,
out)`` compares one job's summary and written files against it and
returns ``(ok, quality, reason)``.  ``quality`` holds the workload's
quality metrics; a metric that does not apply to the workload reads 1.0
(the workload has nothing approximate that could lose it).
"""

from __future__ import annotations

import glob
import hashlib
import json
import os

import numpy as np

from perfbench.gen import load_meta

REL_TOL = 1e-9
QUALITY = ("recall_at_10", "dup_recall", "clean_keep_rate")


def _close(a, b, tol: float = REL_TOL) -> bool:
    a, b = np.asarray(a, dtype=float), np.asarray(b, dtype=float)
    return a.shape == b.shape and bool(np.all(np.abs(a - b) <= tol * np.maximum(1.0, np.abs(b))))


def _quality(**kw) -> dict:
    return {q: float(kw.get(q, 1.0)) for q in QUALITY}


# ---------------------------------------------------------------- K-Means


def lloyd_oracle(points: np.ndarray, init: np.ndarray, iterations: int):
    """Lloyd with the engine's semantics: squared distance as
    (x-cx)^2 + ... per component, argmin with the lowest surviving id
    winning ties, empty clusters dropped (their ids retired).
    Returns (ids, centroids, wcss, final assignment as ids)."""
    ids = np.arange(len(init))
    cents = np.asarray(init, dtype=np.float64)

    def assign(c):
        diff = points[:, None, :] - c[None, :, :]
        d2 = (diff * diff).sum(axis=2)
        a = d2.argmin(axis=1)
        return a, d2[np.arange(len(points)), a]

    for _ in range(iterations):
        a, _ = assign(cents)
        n = np.bincount(a, minlength=len(ids))
        sums = np.stack([np.bincount(a, weights=points[:, j], minlength=len(ids))
                         for j in range(points.shape[1])], axis=1)
        keep = n > 0
        cents, ids = sums[keep] / n[keep][:, None], ids[keep]
    a, d2 = assign(cents)
    return ids, cents, float(d2.sum()), ids[a]


def expect_kmeans(data: str) -> dict:
    meta = load_meta(data)
    pts = np.load(os.path.join(data, "points.npy"))
    ids, cents, wcss, labels = lloyd_oracle(pts, np.load(os.path.join(data, "init.npy")),
                                            meta["supersteps"])
    return {"ids": ids.tolist(), "centroids": cents, "wcss": wcss,
            "iterations": meta["supersteps"], "rows": len(pts),
            "hist": dict(zip(*np.unique(labels, return_counts=True)))}


def check_kmeans(exp: dict, got: dict, out: str | None) -> tuple[bool, dict, str]:
    q = _quality()
    ids = [int(c[0]) for c in got["centroids"]]
    if ids != exp["ids"]:
        return False, q, f"centroid ids {ids} != {exp['ids']}"
    if not _close([c[1:] for c in got["centroids"]], exp["centroids"]):
        return False, q, "centroids differ from the oracle beyond 1e-9 relative"
    if not _close(got["wcss"], exp["wcss"]):
        return False, q, f"wcss {got['wcss']} != {exp['wcss']}"
    if got["iterations"] != exp["iterations"]:
        return False, q, f"ran {got['iterations']} supersteps, expected {exp['iterations']}"
    if out is None:
        return True, q, ""
    import pandas as pd

    cents = pd.read_csv(os.path.join(out, "centroids.csv"), header=None,
                        float_precision="round_trip").to_numpy()
    if not _close(cents, np.asarray(got["centroids"], dtype=float), 0.0):
        return False, q, "centroids.csv differs from the returned centroids"
    obj = pd.read_csv(os.path.join(out, "objfun.csv"), header=None,
                      float_precision="round_trip").to_numpy()
    if obj.shape != (1, 1) or not _close(obj[0, 0], got["wcss"], 0.0):
        return False, q, "objfun.csv differs from the returned wcss"
    labels = pd.read_csv(os.path.join(out, "points.csv"), header=None, usecols=[0])[0]
    if len(labels) != exp["rows"]:
        return False, q, f"points.csv has {len(labels)} rows, expected {exp['rows']}"
    hist = labels.value_counts().to_dict()
    if {int(k): int(v) for k, v in hist.items()} != {int(k): int(v) for k, v in exp["hist"].items()}:
        return False, q, "points.csv cluster sizes differ from the oracle assignment"
    return True, q, ""


# ---------------------------------------------------------------- dedup


def expect_dedup(data: str) -> dict:
    import pyarrow.parquet as pq

    with open(os.path.join(data, "truth.json")) as f:
        truth = json.load(f)
    langs = pq.read_table(os.path.join(data, "documents.parquet"),
                          columns=["lang"]).column("lang").to_pylist()
    planted = set(truth["exact_dups"]) | set(truth["near_dups"])
    return {"n": truth["n_docs"], "exact": set(truth["exact_dups"]), "planted": planted,
            "langs": langs, "digest": None}


def kept_ids(out: str) -> list[tuple[int, str]]:
    """(doc_id, lang) of every row under the partitioned output."""
    import pyarrow.parquet as pq

    rows = []
    for part in sorted(glob.glob(os.path.join(out, "kept", "lang=*"))):
        lang = os.path.basename(part).split("=", 1)[1]
        files = sorted(glob.glob(os.path.join(part, "*.parquet")))
        for f in files:
            rows += [(i, lang) for i in pq.read_table(f, columns=["doc_id"]).column(0).to_pylist()]
    return rows


def check_dedup(exp: dict, got: dict, out: str | None, rows=None) -> tuple[bool, dict, str]:
    rows = kept_ids(out) if rows is None else rows
    ids = [i for i, _ in rows]
    kept = set(ids)
    removed_planted = len(exp["planted"] - kept)
    unplanted = exp["n"] - len(exp["planted"])
    q = _quality(dup_recall=removed_planted / max(1, len(exp["planted"])),
                 clean_keep_rate=len(kept - exp["planted"]) / max(1, unplanted))
    if len(kept) != len(ids):
        return False, q, "a document was written twice"
    if not kept <= set(range(exp["n"])):
        return False, q, "output holds ids that are not in the input"
    if any(exp["langs"][i] != lang for i, lang in rows):
        return False, q, "a document was written under the wrong lang partition"
    if exp["exact"] & kept:
        return False, q, f"{len(exp['exact'] & kept)} planted exact duplicates were kept"
    if q["clean_keep_rate"] < 0.99:
        return False, q, f"clean_keep_rate {q['clean_keep_rate']:.4f} < 0.99"
    digest = hashlib.sha256(np.array(sorted(kept), dtype=np.int64).tobytes()).hexdigest()
    if exp["digest"] is None:
        exp["digest"] = digest
    elif digest != exp["digest"]:
        return False, q, "kept-id set differs from the first job of this run"
    return True, q, ""


# ---------------------------------------------------------------- retrieval


def _cosine(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Cosine of every row of ``a`` with every row of ``b``."""
    na = np.sqrt((a * a).sum(axis=1))
    nb = np.sqrt((b * b).sum(axis=1))
    return (a @ b.T) / np.outer(na, nb)


def _top(cos_row: np.ndarray, cand: np.ndarray, k: int) -> list[int]:
    """Top-k candidate ids by (cosine rounded to 6 places desc, id asc)."""
    r = np.round(cos_row[cand], 6)
    order = np.lexsort((cand, -r))
    return cand[order[:k]].tolist()


def expect_ivf(data: str, k: int = 10, n_probe: int = 2) -> dict:
    meta = load_meta(data)
    vecs = np.load(os.path.join(data, "vectors.npy")).astype(np.float64)
    qs = np.load(os.path.join(data, "queries.npy")).astype(np.float64)
    ids, cents, wcss, labels = lloyd_oracle(vecs, np.load(os.path.join(data, "init.npy")),
                                            meta["iterations"])
    cells = np.unique(labels)
    cell_cent = np.stack([vecs[labels == c].mean(axis=0) for c in cells])
    qcell = _cosine(qs, cell_cent)
    cos = _cosine(qs, vecs)
    everything = np.arange(len(vecs))
    exact, ivf = [], []
    for qi in range(len(qs)):
        probed = cells[np.lexsort((cells, -qcell[qi]))[:n_probe]]
        exact.append(_top(cos[qi], everything, k))
        ivf.append(_top(cos[qi], np.flatnonzero(np.isin(labels, probed)), k))
    return {"ids": ids.tolist(), "centroids": cents, "wcss": wcss, "cos": cos,
            "exact": exact, "ivf": ivf, "k": k}


def check_ivf(exp: dict, got: dict, out: str | None) -> tuple[bool, dict, str]:
    k = exp["k"]
    by_q: dict[int, list] = {}
    for qid, nid, c, rnk in got["neighbors"]:
        by_q.setdefault(qid, []).append((rnk, nid, c))
    hits = sum(len(set(n for _, n, _ in by_q.get(qi, [])) & set(ex))
               for qi, ex in enumerate(exp["exact"]))
    q = _quality(recall_at_10=hits / (k * len(exp["exact"])))
    if got["ids"] != exp["ids"]:
        return False, q, f"lloyd_nd surviving ids {got['ids']} != {exp['ids']}"
    if not _close(got["centroids"], exp["centroids"]):
        return False, q, "lloyd_nd centroids differ from the oracle beyond 1e-9 relative"
    if not _close(got["wcss"], exp["wcss"]):
        return False, q, f"lloyd_nd wcss {got['wcss']} != {exp['wcss']}"
    if sorted(by_q) != list(range(len(exp["ivf"]))):
        return False, q, "not every query has neighbours"
    for qi, want in enumerate(exp["ivf"]):
        res = sorted(by_q[qi])
        if [r for r, _, _ in res] != list(range(1, len(want) + 1)):
            return False, q, f"query {qi}: ranks are not 1..{len(want)}"
        for _, nid, c in res:
            if not 0 <= nid < exp["cos"].shape[1]:
                return False, q, f"query {qi}: neighbour id {nid} is not in the corpus"
            if abs(c - exp["cos"][qi, nid]) > 2e-6:
                return False, q, f"query {qi}: neighbour {nid} has cosine {c}, oracle {exp['cos'][qi, nid]:.6f}"
        if [(-c, n) for _, n, c in res] != sorted((-c, n) for _, n, c in res):
            return False, q, f"query {qi}: neighbours are not in (cosine desc, id asc) order"
        # membership may differ from the oracle's IVF list only by a
        # rounding tie at the cut-off (last-digit summation differences)
        cut = round(float(exp["cos"][qi, want[-1]]), 6)
        for nid in set(n for _, n, _ in res) ^ set(want):
            if abs(float(exp["cos"][qi, nid]) - cut) > 2e-6:
                return False, q, f"query {qi}: neighbour set differs from the IVF oracle at id {nid}"
    return True, q, ""


EXPECT = {"kmeans_csv_job": expect_kmeans, "dedup_minhash_cc": expect_dedup,
          "ivf_retrieval": expect_ivf}
CHECK = {"kmeans_csv_job": check_kmeans, "dedup_minhash_cc": check_dedup,
         "ivf_retrieval": check_ivf}


def check(workload: str, exp: dict, got: dict, out: str | None) -> tuple[bool, dict, str]:
    return CHECK[workload](exp, got, out)
