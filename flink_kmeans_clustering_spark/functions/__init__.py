"""Scalar/array function library.

Column expressions stay JVM-side, inside whole-stage codegen where they
can (built-in ``pyspark.sql.functions`` compositions, higher-order array
functions).  The one Python stage is the nearest-codeword kernel in
``vector`` (numpy over Arrow batches in ``mapInArrow``) behind n-d
K-Means, the IVF cell means and product quantization, which replaced an
interpreted k·d higher-order argmin.
"""

from flink_kmeans_clustering_spark.functions.vector import (
    cosine_similarity,
    dot,
    l2_norm,
)
from flink_kmeans_clustering_spark.functions.text import ngram_shingles, tokenize
from flink_kmeans_clustering_spark.functions.hashing import signature_similarity

__all__ = [
    "cosine_similarity",
    "dot",
    "l2_norm",
    "ngram_shingles",
    "tokenize",
    "signature_similarity",
]
