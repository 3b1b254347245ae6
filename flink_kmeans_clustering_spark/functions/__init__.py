"""Scalar/array function library.

Column expressions stay JVM-side, inside whole-stage codegen where they
can (built-in ``pyspark.sql.functions`` compositions, higher-order array
functions).  The vector folds (squared L2, dot, norm, cosine, unit
normalization) are SQL-text builders in ``vector``, one each, which
the operators embed in their projections.  The one Python stage is the
nearest-codeword kernel in ``vector`` (numpy over Arrow batches in
``mapInArrow``) behind n-d K-Means, the IVF cell means and product
quantization, which replaced an interpreted k·d higher-order argmin.
``hashing`` holds the md5 digest contract (a hex slice of an md5 digest
read as an integer: ``md5_int``, ``md5_unit``, ``hash_bucket`` and the
driver-side ``md5_u32``) that every DuckDB-replayable sample, sketch
lane and synthetic column builds from, beside the xxhash64 MinHash
signature helpers.
"""

from flink_kmeans_clustering_spark.functions.vector import (
    cosine_sql,
    dot_sql,
    l2_normalize_sql,
    norm_sql,
    squared_l2_sql,
)
from flink_kmeans_clustering_spark.functions.text import ngram_shingles, tokenize
from flink_kmeans_clustering_spark.functions.hashing import signature_similarity

__all__ = [
    "cosine_sql",
    "dot_sql",
    "l2_normalize_sql",
    "norm_sql",
    "squared_l2_sql",
    "ngram_shingles",
    "tokenize",
    "signature_similarity",
]
