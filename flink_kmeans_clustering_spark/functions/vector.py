"""Vector math over ``array<numeric>`` columns, all JVM-side.

``zip_with`` + ``aggregate`` keep the arithmetic in Tungsten (SURVEY.md
§7 hard part d): no Arrow transfer, no Python, codegen-friendly — this
is what makes 64-dim cosine over 100 TB of embeddings a scan-bound
problem instead of a serialization-bound one.

Two of the kernels are SQL-text builders rather than Columns, because
their callers author whole projections as one string (one JVM-side
parse instead of a py4j round trip per node): :func:`squared_l2_sql`
is the one squared-L2 fold and :func:`nearest_codeword_sql` the one
n-d nearest-codeword argmin.  K-Means assignment, the PQ trainer, PQ
encoding, the PQ rerank, the quantization-error report and the coreset
sensitivities all build from them.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Dot product of two equal-length array columns (double)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    """Euclidean norm of an array column."""
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine similarity; null-safe for zero vectors (returns NULL)."""
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom != 0.0, dot(a, b) / denom)


def squared_l2_sql(a: str, b: str) -> str:
    """Σ (aᵢ − bᵢ)² of two ``array<double>`` SQL expressions, folded
    left to right from ``0.0D`` in index order — an independent engine
    summing the same doubles in the same order lands on the same
    double.  Length mismatches null-pad (``zip_with``) and give NULL.

    ``a`` and ``b`` sit outside the fold's own lambdas, so a column
    they read is never captured by the lambda variables."""
    return (
        f"aggregate(zip_with({a}, {b}, (a, b) -> (a - b) * (a - b)), "
        "0.0D, (acc, x) -> acc + x)"
    )


def nearest_codeword_sql(
    vec: str, codebook: str, n: int | str, ids: str | None = None
) -> str:
    """The nearest of ``n`` codewords to ``vec`` as one SQL expression:
    a ``(dist2, cluster)`` struct, read as ``(expr).cluster`` /
    ``(expr).dist2``.

    * ``vec`` — the row's ``array<double>``.  It is evaluated once per
      row and let-bound through a one-element ``transform`` outside
      the per-codeword lambda, so an O(dim) cast in it is not
      re-inlined n times and no column it reads can be captured by a
      lambda variable of the same name.
    * ``codebook`` — an ``array<array<double>>`` (usually a literal),
      read 1-based by ``element_at``.
    * ``n`` — the codeword count: an int, or SQL text for a per-row
      count (a ragged codebook).
    * ``ids`` — the ``array<int>`` of labels emitted per position;
      ``None`` emits the 0-based position.

    ``codebook``, ``n`` and ``ids`` are read inside the lambdas: pass
    literals, or columns whose names the caller picked itself.  dist² is :func:`squared_l2_sql`; ``array_min`` over the structs
    keeps the reference's strict-< lowest-id tie-break
    (``KMeans.java:281``)."""
    last = n - 1 if isinstance(n, int) else f"{n} - 1"
    dist2 = squared_l2_sql("v", f"element_at({codebook}, i + 1)")
    label = "i" if ids is None else f"CAST(element_at({ids}, i + 1) AS INT)"
    return (
        f"element_at(transform(array({vec}), "
        f"v -> array_min(transform(sequence(0, {last}), "
        f"i -> named_struct('dist2', {dist2}, 'cluster', {label})))), 1)"
    )
