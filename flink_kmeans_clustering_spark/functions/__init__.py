"""Scalar/array function library — JVM-side column expressions only.

Everything here stays inside whole-stage codegen (built-in
``pyspark.sql.functions`` compositions, higher-order array functions);
no Python UDFs in any hot path.
"""

from flink_kmeans_clustering_spark.functions.vector import (
    cosine_similarity,
    dot,
    l2_norm,
)
from flink_kmeans_clustering_spark.functions.text import ngram_shingles, tokenize
from flink_kmeans_clustering_spark.functions.hashing import (
    minhash_signature,
    signature_similarity,
    simhash64,
)

__all__ = [
    "cosine_similarity",
    "dot",
    "l2_norm",
    "ngram_shingles",
    "tokenize",
    "minhash_signature",
    "signature_similarity",
    "simhash64",
]
