"""The three benchmark jobs, composed from the engine's public functions
the way a user composes them.  One call runs one job from its input
files to its committed output; every engine call sits in a tracer span
named ``<module>.<function>`` after the engine module it calls into.

Each job returns a JSON-serialisable summary that the oracles check
together with the files the job wrote under ``out``.
"""

from __future__ import annotations

import os

import numpy as np

from perfbench.gen import load_meta
from perfbench.trace import Tracer


def kmeans_csv_job(spark, data: str, out: str, tr: Tracer) -> dict:
    """The reference job: points and centroids CSV in, ``lloyd`` with
    fixed supersteps, three single-file CSV outputs."""
    from flink_kmeans_clustering_spark.operators.kmeans import lloyd
    from flink_kmeans_clustering_spark.sinks.csv import write_csv_single
    from flink_kmeans_clustering_spark.sources.csv import (
        read_centroids_csv,
        read_points_csv,
    )

    meta = load_meta(data)
    with tr.span("sources.csv.read_points_csv"):
        points = read_points_csv(spark, os.path.join(data, "points.csv"))
    with tr.span("sources.csv.read_centroids_csv"):
        init = [(int(r["id"]), float(r["x"]), float(r["y"]))
                for r in read_centroids_csv(spark, os.path.join(data, "centroids.csv")).collect()]
    with tr.span("operators.kmeans.lloyd"):
        res = lloyd(points, init, max_iterations=meta["supersteps"])
    outputs = {
        "points": res.assignments.select("cluster", "x", "y"),
        "centroids": spark.createDataFrame(res.centroids, "id int, x double, y double"),
        "objfun": spark.createDataFrame([(res.wcss,)], "wcss double"),
    }
    for name, df in outputs.items():
        with tr.span("sinks.csv.write_csv_single"):
            write_csv_single(df, os.path.join(out, f"{name}.csv"), flink_compat=True)
    return {"centroids": [list(c) for c in res.centroids], "wcss": res.wcss,
            "iterations": res.iterations}


def dedup_minhash_cc(spark, data: str, out: str, tr: Tracer) -> dict:
    """Near-dup removal: MinHash LSH pairs, connected components, keep
    each group's min-id representative, write parquet by ``lang``."""
    from flink_kmeans_clustering_spark.operators.dedup import (
        connected_components,
        dedup_corpus,
        minhash_lsh_pairs,
    )
    from flink_kmeans_clustering_spark.sinks.parquet import write_partitioned
    from flink_kmeans_clustering_spark.sources.parquet import load_table

    with tr.span("sources.parquet.load_table"):
        docs = load_table(spark, "documents", sf_dir=data)
    with tr.span("operators.dedup.minhash_lsh_pairs"):
        pairs = minhash_lsh_pairs(docs)
    with tr.span("operators.dedup.connected_components"):
        comps = connected_components(pairs, node_col="doc_id")
    with tr.span("operators.dedup.dedup_corpus"):
        kept = dedup_corpus(docs, comps)
    with tr.span("sinks.parquet.write_partitioned"):
        write_partitioned(kept, os.path.join(out, "kept"), ["lang"])
    tr.last_pairs = pairs
    return {}


def ivf_retrieval(spark, data: str, out: str, tr: Tracer) -> dict:
    """IVF index build and batch search: ``lloyd_nd`` cells, per-vector
    cell assignment, ``ivf_knn_join`` top-10 over the two best cells.
    The search result is collected inside the ``ivf_knn_join`` span:
    the function returns a plan, and collecting it is the user's action."""
    from flink_kmeans_clustering_spark.operators.kmeans import (
        assign_points_nd,
        lloyd_nd,
    )
    from flink_kmeans_clustering_spark.operators.similarity import ivf_knn_join
    from flink_kmeans_clustering_spark.sources.parquet import load_table

    meta = load_meta(data)
    init = np.load(os.path.join(data, "init.npy")).tolist()
    with tr.span("sources.parquet.load_table"):
        vecs = load_table(spark, "embeddings", sf_dir=data)
    with tr.span("operators.kmeans.lloyd_nd"):
        cents, wcss, ids = lloyd_nd(vecs, init, max_iterations=meta["iterations"])
    with tr.span("operators.kmeans.assign_points_nd"):
        cells = assign_points_nd(vecs, cents, centroid_ids=ids)
    queries = spark.read.parquet(os.path.join(data, "queries.parquet"))
    with tr.span("operators.similarity.ivf_knn_join"):
        rows = ivf_knn_join(cells, queries, k=10, n_probe=2, cell_col="cluster").collect()
    return {
        "centroids": cents, "wcss": wcss, "ids": ids,
        "neighbors": [[int(r["query_id"]), int(r["neighbor_id"]), float(r["cosine"]),
                       int(r["rnk"])] for r in rows],
    }


JOBS = {
    "kmeans_csv_job": kmeans_csv_job,
    "dedup_minhash_cc": dedup_minhash_cc,
    "ivf_retrieval": ivf_retrieval,
}


def input_rows(workload: str, meta: dict) -> int:
    """Rows one job consumes: for K-Means one point per superstep."""
    if workload == "kmeans_csv_job":
        return meta["rows"] * meta["supersteps"]
    return meta["rows"]
