"""Vector math over ``array<numeric>`` columns.

Two homes, picked by what the caller's rows need:

* JVM-side SQL, for light per-row arithmetic.  ``zip_with`` +
  ``aggregate`` keep it in Tungsten (SURVEY.md §7 hard part d): no
  Arrow transfer and no Python.  Each fold has one builder, and every
  operator builds from it: :func:`squared_l2_sql` (the PQ rerank, the
  quantization-error report, the coreset sensitivities),
  :func:`dot_sql`, :func:`norm_sql`, :func:`cosine_sql` (which takes
  norms computed once per row, so a pair folds only its dot) and
  :func:`l2_normalize_sql` (the norm folded once per row).  Each folds
  from ``0.0D`` in index order, so an independent engine summing in
  that order lands on the same doubles.  They are SQL text rather than
  Columns, because their callers author whole projections as one
  string (one JVM-side parse instead of a py4j round trip per node).
* One numpy kernel over Arrow record batches for every nearest-codeword
  argmin: :func:`nearest_codeword` over one codebook, and
  :func:`_nearest_codes` over either one codebook spanning the vector
  (K-Means) or m codebooks over m equal slices (product quantization).
  :func:`assign_nearest` (``mapInArrow``) appends the cluster and dist²
  or the m PQ codes; :func:`label_sums` folds per-label sums per
  partition, added on the driver in partition order (the n-d Lloyd
  superstep, the PQ trainer and the IVF cell means); and
  :func:`nearest_dist2_sum` is the WCSS.  The kernel does the arithmetic
  of the old SQL argmin, an interpreted higher-order function of k·d
  terms per row, vectorized and bit for bit (docs/TUNING.md).
"""

from __future__ import annotations

import sys
from collections.abc import Hashable, Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark import cloudpickle
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from flink_kmeans_clustering_spark.operators.common import quote_ident

# The Python workers import numpy and pyarrow but not always this
# package (it need not be on their path), so the kernels below travel
# to them by value.
cloudpickle.register_pickle_by_value(sys.modules[__name__])


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


def dot_sql(a: str, b: str) -> str:
    """Σ aᵢ·bᵢ of two ``array<double>`` SQL expressions, folded from
    ``0.0D`` in index order.  NULL when a vector is NULL, holds a NULL
    element or the lengths differ (``zip_with`` null-pads).  ``a`` and
    ``b`` sit outside the fold's lambdas."""
    return (
        f"aggregate(zip_with({a}, {b}, (a, b) -> a * b), "
        "0.0D, (acc, x) -> acc + x)"
    )


def norm_sql(a: str) -> str:
    """‖a‖: the square root of Σ aᵢ² folded from ``0.0D`` in index
    order; NULL for a NULL vector or one with a NULL element."""
    return f"sqrt(aggregate({a}, 0.0D, (acc, x) -> acc + x * x))"


def cosine_sql(a: str, b: str, norm_a: str, norm_b: str) -> str:
    """``dot_sql(a, b) / (norm_a * norm_b)``, NULL when that product is
    0 or NULL (``try_divide``, in every ANSI mode) or the dot is NULL.

    The norms are SQL expressions, each read once: columns projected
    below a join, so a scored pair folds its dot and nothing else, or
    :func:`norm_sql` of a row scored against a literal, folded once."""
    return f"try_divide({dot_sql(a, b)}, ({norm_a}) * ({norm_b}))"


def l2_normalize_sql(v: str) -> str:
    """``v / ‖v‖`` elementwise, NULL unless 0 < Σ vᵢ² < ∞ (so a NULL,
    empty, zero, NULL-element, NaN or overflowing vector has none).

    Σ vᵢ² is folded once per row and reaches the division through
    ``aggregate``'s finish lambda: a norm read inside ``transform``'s
    lambda would be refolded for every element (docs/TUNING.md, third
    corollary).  ``v`` is read again inside that finish lambda, whose
    variable is named so that it occurs nowhere in ``v``: a column of
    ``v`` is never captured by it.  NaN sorts above every double in
    Spark, so ``< Infinity`` also rejects a NaN sum."""
    ss = "ss"
    while ss in v.lower():
        ss += "_"
    return (
        f"aggregate({v}, 0.0D, (acc, x) -> acc + x * x, {ss} -> "
        f"CASE WHEN {ss} > 0.0D AND {ss} < CAST('Infinity' AS DOUBLE) "
        f"THEN transform({v}, x -> x / sqrt({ss})) END)"
    )


# ---------------------------------------------------------------------------
# The Arrow kernel: n-d nearest codeword and per-label partial sums
# ---------------------------------------------------------------------------


def vector_block(col: pa.Array, dim: int | None) -> tuple:
    """A list column of one record batch as numpy arrays
    ``(values, present, whole, lens)``.

    ``values`` is n × dim float64 (float32 widens exactly): each element
    that is present and non-null at an index below ``dim``, 0.0
    elsewhere.  ``present`` marks those elements.  ``whole`` marks the
    rows with exactly ``dim`` elements and no null element, the only
    rows with a dist².  ``lens`` is each row's length, -1 when the
    vector is NULL.  ``dim=None`` takes the longest row's length."""
    n = len(col)
    lens = pc.list_value_length(col).fill_null(-1).to_numpy().astype(np.int64)
    flat = pc.list_flatten(col)
    vals = np.asarray(flat.to_numpy(zero_copy_only=False), dtype=np.float64)
    if dim is None:
        dim = int(lens.max(initial=0))
    if flat.null_count == 0 and (lens == dim).all():
        return vals.reshape(n, dim), np.ones((n, dim), bool), np.ones(n, bool), lens
    rows = pc.list_parent_indices(col).to_numpy().astype(np.int64)
    sizes = np.maximum(lens, 0)
    pos = np.arange(len(vals)) - (np.cumsum(sizes) - sizes)[rows]
    valid = np.asarray(flat.is_valid().to_numpy(zero_copy_only=False), bool)
    keep = valid & (pos < dim)
    values = np.zeros((n, dim))
    present = np.zeros((n, dim), bool)
    values[rows[keep], pos[keep]] = vals[keep]
    present[rows[keep], pos[keep]] = True
    has_null = np.zeros(n, bool)
    has_null[rows[~valid]] = True
    return values, present, (lens == dim) & ~has_null, lens


def nearest_codeword(
    values: np.ndarray, whole: np.ndarray, book: np.ndarray, ids: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """``(cluster, dist2)`` of each row of :func:`vector_block`: the
    argmin of the dist² fold over the codewords ``book`` (k × d),
    labelled by ``ids``.

    dist² folds ``acc + t * t`` with ``t = v_j - c_j`` from 0.0 over j
    in index order, the order :func:`squared_l2_sql` folds in, so each
    double equals the SQL form's (never ``np.sum``: it sums pairwise).
    The scan visits the codewords by ascending id with a strict ``<``,
    so ties go to the lowest id, and it orders NaN above +inf as Spark
    does (``np.argmin`` would pick the NaN).  A row that is not
    ``whole`` has a NULL dist² for every codeword, so it takes the
    lowest id; its dist² comes back NaN for the caller to mask."""
    acc = np.zeros((len(values), len(book)))
    cols, book_cols = values.T, book.T
    for j in range(book.shape[1]):
        t = cols[j][:, None] - book_cols[j][None, :]
        acc = acc + t * t
    order = np.argsort(ids, kind="stable")
    best = np.full(len(values), order[0])
    best_d2 = acc[:, order[0]]
    for p in order[1:]:
        d2 = acc[:, p]
        take = (d2 < best_d2) | (np.isnan(best_d2) & ~np.isnan(d2))
        best = np.where(take, p, best)
        best_d2 = np.where(take, d2, best_d2)
    best[~whole] = order[0]
    return ids[best], np.where(whole, best_d2, np.nan)


def _codebook(
    codebook: Sequence[Sequence[float]], ids: Sequence[int] | None
) -> tuple[np.ndarray, np.ndarray]:
    """The codewords as a k × d float64 array and their int32 ids
    (default: positions); a non-finite value raises ``ValueError``."""
    book = np.asarray([[float(v) for v in c] for c in codebook], dtype=np.float64)
    if not np.isfinite(book).all():
        raise ValueError(f"non-finite codeword value {book[~np.isfinite(book)][0]!r}")
    ids = range(len(book)) if ids is None else ids
    return book, np.asarray([int(i) for i in ids], dtype=np.int32)


def _codebooks(
    codebooks: Sequence[Sequence[Sequence[float]]],
    ids: Sequence[Sequence[int] | None] | None,
) -> list[tuple[np.ndarray, np.ndarray]]:
    """:func:`_codebook` of each book; ``ids`` holds one id list (or
    ``None``: positions) per book, or is ``None`` for positions in all."""
    ids = [None] * len(codebooks) if ids is None else ids
    return [_codebook(book, i) for book, i in zip(codebooks, ids)]


def _nearest_codes(
    values: np.ndarray,
    present: np.ndarray,
    whole: np.ndarray,
    books: list[tuple[np.ndarray, np.ndarray]],
    sliced: bool,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """``(codes, dist2, whole)``, each n × m, of one :func:`vector_block`:
    book s is searched with :func:`nearest_codeword` over the s-th
    d-element slice of each row.

    K-Means passes one book over the whole vector (``sliced=False``): a
    row has a dist² only when it is whole.  Product quantization passes
    m books over m equal slices (``sliced=True``): a slice has a dist²
    when its d elements are present and non-null, whatever the row's
    length, so a long vector's extra elements are ignored."""
    n, m, d = len(values), len(books), books[0][0].shape[1]
    whole = present.reshape(n, m, d).all(axis=2) if sliced else whole[:, None]
    codes, dist2 = zip(*(
        nearest_codeword(values[:, s * d:(s + 1) * d], whole[:, s], book, ids)
        for s, (book, ids) in enumerate(books)
    ))
    return np.stack(codes, axis=1), np.stack(dist2, axis=1), whole


def _vector_input(df: DataFrame, vec_col: str) -> Column:
    """The vector column as the kernel reads it: as it is when its
    elements are float or double (the kernel widens float32 itself),
    else cast to ``array<double>`` by Spark."""
    elem = df.select(quote_ident(vec_col)).schema[0].dataType.elementType
    col = F.col(quote_ident(vec_col))
    return col if isinstance(elem, (FloatType, DoubleType)) else col.cast("array<double>")


def assign_nearest(
    df: DataFrame,
    vec_col: str,
    codebooks: Sequence[Sequence[Sequence[float]]],
    ids: Sequence[Sequence[int] | None] | None = None,
    out_col: str = "cluster",
    dist2_col: str | None = None,
    sliced: bool = False,
) -> DataFrame:
    """``df`` plus each row's nearest codeword (:func:`_nearest_codes`),
    in one ``mapInArrow``: a narrow map, no join and no shuffle.

    With one codebook over the whole vector, ``out_col`` is the int id
    of the nearest codeword and ``dist2_col``, if named, its double
    dist² (NULL for a row that is not whole).  With ``sliced`` (m
    codebooks over m equal slices), ``out_col`` is the ``array<int>`` of
    the m codes.  ``ids`` labels the codewords of each book (default:
    positions); a non-finite codeword raises ``ValueError``."""
    books = _codebooks(codebooks, ids)
    dim = books[0][0].shape[1] * len(books)
    keep = len(df.columns)
    # positional names: mapInArrow re-resolves its input by name
    src = df.select("*", _vector_input(df, vec_col)).toDF(
        *[f"_{i}" for i in range(keep + 1)]
    )
    out_type = ArrayType(IntegerType()) if sliced else IntegerType()
    fields = list(df.schema.fields) + [StructField(out_col, out_type)]
    if dist2_col:
        fields.append(StructField(dist2_col, DoubleType()))
    names = [f.name for f in fields]

    def assign(batches):
        for b in batches:
            values, present, whole, _ = vector_block(b.column(keep), dim)
            codes, d2, whole = _nearest_codes(values, present, whole, books, sliced)
            cols = b.columns[:keep]
            if sliced:
                offsets = np.arange(0, codes.size + 1, codes.shape[1], dtype=np.int32)
                flat = pa.array(codes.ravel(), pa.int32())
                cols.append(pa.ListArray.from_arrays(offsets, flat))
            else:
                cols.append(pa.array(codes[:, 0], pa.int32()))
            if dist2_col:
                cols.append(pa.array(d2[:, 0], pa.float64(), mask=~whole[:, 0]))
            yield pa.RecordBatch.from_arrays(cols, names=names)

    return src.mapInArrow(assign, StructType(fields))


def label_sums(
    df: DataFrame,
    vec_col: str,
    dim: int | None = None,
    label_col: str | None = None,
    codebooks: Sequence[Sequence[Sequence[float]]] | None = None,
    ids: Sequence[Sequence[int] | None] | None = None,
    sliced: bool = False,
) -> list[dict[Hashable, tuple[int, np.ndarray, np.ndarray, int]]]:
    """Per-label partial sums of a vector column, in one Spark job with
    no exchange: one ``{label: (n, sums, counts, width)}`` per codebook
    (a one-element list for ``label_col``).

    The label is ``label_col`` (rows with a NULL label add to nothing)
    or, given ``codebooks``, each row's nearest codeword id in each book
    (:func:`_nearest_codes`; ``sliced`` as there).  ``n`` counts the
    label's rows; ``sums[j]`` adds the elements present and non-null at
    index j of the book's slice and ``counts[j]`` counts them, for j
    below ``dim`` (``None``: the longest vector); ``width`` is the
    label's longest vector.

    Each partition folds its rows in row order, ``acc + v`` from 0.0
    (``np.add.accumulate``, a sequential scan), and emits one row per
    (book, label); the driver adds the partitions in partition order.
    The sums do not depend on scheduling: the same input gives the same
    doubles on every run."""
    if codebooks is not None:
        books = _codebooks(codebooks, ids)
        dim = books[0][0].shape[1] * len(books)
        src = df.select(_vector_input(df, vec_col).alias("v"))
        label_type = IntegerType()
    else:
        books = []
        lab = F.col(quote_ident(label_col))
        src = df.where(lab.isNotNull()).select(
            lab.alias("l"), _vector_input(df, vec_col).alias("v")
        )
        label_type = src.schema[0].dataType

    def fold(batches):
        acc: dict = {}
        label_arrow = pa.int32()
        for b in batches:
            values, present, whole, lens = vector_block(b.column(b.num_columns - 1), dim)
            if books:
                labels, _, _ = _nearest_codes(values, present, whole, books, sliced)
            else:
                label_arrow = b.column(0).type
                labels = b.column(0).to_numpy(zero_copy_only=False)[:, None]
            d = values.shape[1] // labels.shape[1]
            for p in range(labels.shape[1]):
                vals, pres = values[:, p * d:(p + 1) * d], present[:, p * d:(p + 1) * d]
                order = np.argsort(labels[:, p], kind="stable")
                uniq, starts = np.unique(labels[order, p], return_index=True)
                for lab, seg in zip(uniq.tolist(), np.split(order, starts[1:])):
                    n, s, c, w = acc.get((p, lab), (0, np.zeros(0), np.zeros(0, np.int64), 0))
                    width = max(len(s), d)
                    rows = np.vstack([_pad(s, width)[None], _pad(vals[seg], width)])
                    s = np.add.accumulate(rows, axis=0)[-1]
                    c = _pad(c, width) + _pad(pres[seg], width).sum(axis=0)
                    acc[(p, lab)] = (n + len(seg), s, c, max(w, int(lens[seg].max())))
        if acc:
            keys = list(acc)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([p for p, _ in keys], pa.int32()),
                    pa.array([lab for _, lab in keys], label_arrow),
                    pa.array([acc[k][0] for k in keys], pa.int64()),
                    pa.array([acc[k][1].tolist() for k in keys], pa.list_(pa.float64())),
                    pa.array([acc[k][2].tolist() for k in keys], pa.list_(pa.int64())),
                    pa.array([acc[k][3] for k in keys], pa.int32()),
                ],
                names=["p", "l", "n", "s", "c", "w"],
            )

    schema = StructType([
        StructField("p", IntegerType()),
        StructField("l", label_type),
        StructField("n", LongType()),
        StructField("s", ArrayType(DoubleType())),
        StructField("c", ArrayType(LongType())),
        StructField("w", IntegerType()),
    ])
    out: list[dict] = [{} for _ in range(max(len(books), 1))]
    for r in src.mapInArrow(fold, schema).collect():  # in partition order
        n, s, c, w = out[r["p"]].get(r["l"], (0, np.zeros(0), np.zeros(0, np.int64), 0))
        width = max(len(s), len(r["s"]))
        out[r["p"]][r["l"]] = (
            n + r["n"],
            _pad(s, width) + _pad(np.asarray(r["s"], np.float64), width),
            _pad(c, width) + _pad(np.asarray(r["c"], np.int64), width),
            max(w, r["w"]),
        )
    return out


def _pad(a: np.ndarray, width: int) -> np.ndarray:
    """``a`` with zeros appended along its last axis up to ``width``."""
    short = width - a.shape[-1]
    return a if short <= 0 else np.pad(a, [(0, 0)] * (a.ndim - 1) + [(0, short)])


def nearest_dist2_sum(
    df: DataFrame,
    vec_col: str,
    codebook: Sequence[Sequence[float]],
    ids: Sequence[int] | None = None,
) -> float:
    """Σ dist² to the nearest codeword (the WCSS), NULL dist²s skipped:
    each partition folds its rows in row order from 0.0 and the driver
    adds the partitions in partition order.  One Spark job, no
    exchange."""
    book, ids_np = _codebook(codebook, ids)
    src = df.select(_vector_input(df, vec_col).alias("v"))

    def fold(batches):
        acc = 0.0
        for b in batches:
            values, _, whole, _ = vector_block(b.column(0), book.shape[1])
            _, d2 = nearest_codeword(values, whole, book, ids_np)
            acc = float(np.add.accumulate(np.concatenate([[acc], d2[whole]]))[-1])
        yield pa.RecordBatch.from_arrays([pa.array([acc], pa.float64())], names=["d2"])

    total = 0.0
    for r in src.mapInArrow(fold, "d2 double").collect():  # in partition order
        total = total + r["d2"]
    return total
