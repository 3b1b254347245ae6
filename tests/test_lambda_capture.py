"""A caller's column named like a kernel lambda variable stays a column.

The assignment and PQ kernels and the vector folds are SQL text with
higher-order functions; a column read inside a lambda whose variable has
the same name would silently resolve to the variable instead.  Each
operator below runs with its input column renamed to every
lambda-variable name the kernels use (Spark resolves names
case-insensitively, hence ``I``), and is checked against a pure-Python
reference.
"""

from __future__ import annotations

import math

import pytest

from flink_kmeans_clustering_spark.functions.vector import (
    cosine_sql,
    l2_normalize_sql,
    norm_sql,
)
from flink_kmeans_clustering_spark.operators.common import quote_ident
from flink_kmeans_clustering_spark.operators.kmeans import assign_points, lloyd
from flink_kmeans_clustering_spark.operators.similarity import (
    ann_ivfpq,
    ann_pq,
    ivfpq_residual_codebooks,
    pq_codebooks_first,
)

LAMBDA_NAMES = ["i", "I", "v", "a", "b", "acc", "x", "c", "s", "w", "code", "t"]

# exact-sum coordinates (multiples of 0.25), so Spark's partition-order
# sums equal Python's sequential ones
POINTS = [(p, ((p * 7) % 13) * 0.5 - 3.0, ((p * 5) % 11) * 0.25 - 1.0) for p in range(40)]
CENTS_2D = [(0, -3.0, -1.0), (1, 3.0, 1.5), (2, 0.0, 0.0)]


def _fold(a, b):
    acc = 0.0
    for p, q in zip(a, b):
        acc += (p - q) * (p - q)
    return acc


def _nearest(vec, book):
    """(position, dist²) of the nearest codeword; lowest position on ties."""
    return min(((_fold(vec, c), j) for j, c in enumerate(book)))[::-1]


def _nearest_2d(px, py, cents):
    d2, cid = min(((px - cx) * (px - cx) + (py - cy) * (py - cy), cid) for cid, cx, cy in cents)
    return cid, d2


def _other(name: str) -> str:
    return "y" if name.lower() != "y" else "x"


@pytest.mark.parametrize("name", LAMBDA_NAMES)
def test_2d_assignment_and_lloyd_read_the_column(spark, name):
    for xc, yc in ((name, _other(name)), (_other(name), name)):
        df = spark.createDataFrame(POINTS, f"point_id long, `{xc}` double, `{yc}` double")
        got = {
            r["point_id"]: (r["cluster"], r["d"])
            for r in assign_points(df, CENTS_2D, x=xc, y=yc, dist2_col="d").collect()
        }
        assert got == {p: _nearest_2d(px, py, CENTS_2D) for p, px, py in POINTS}

        cur = list(CENTS_2D)
        for _ in range(2):
            groups: dict[int, list] = {}
            for _, px, py in POINTS:
                groups.setdefault(_nearest_2d(px, py, cur)[0], []).append((px, py))
            cur = sorted(
                (cid, sum(p[0] for p in g) / len(g), sum(p[1] for p in g) / len(g))
                for cid, g in groups.items()
            )
        res = lloyd(df, CENTS_2D, max_iterations=2, x=xc, y=yc, cache=False)
        assert res.centroids == cur
        got = {
            r["point_id"]: (r["cluster"], r["dist2"])
            for r in res.assignments.collect()
        }
        assert got == {p: _nearest_2d(px, py, cur) for p, px, py in POINTS}


DIM, M, KC = 4, 2, 4
VECS = [
    (i, i % 3, [((i * 7 + j * 3) % 11) * 0.5 - 2.5 for j in range(DIM)])
    for i in range(30)
]
QUERY = [0.75, -1.25, 0.5, 2.0]


def _adc_search(rows, books, k, shortlist):
    """Pure-Python ADC over rows ``(id, vector to encode, query the LUT
    is built from, vector)``: codes by argmin, LUT score, shortlist cut
    on (score, id), exact-L2 rerank against QUERY, cut on (d2, id)."""
    d = len(books[0][0])
    scored = []
    for vid, enc, lut_q, vec in rows:
        score = 0.0
        for s, book in enumerate(books):
            code = _nearest(enc[s * d:(s + 1) * d], book)[0]
            score += _fold(lut_q[s * d:(s + 1) * d], book[code])
        scored.append((score, vid, vec))
    short = sorted(scored)[:shortlist]
    return [(vid, d2) for d2, vid in sorted((_fold(vec, QUERY), vid) for _, vid, vec in short)[:k]]


@pytest.mark.parametrize("name", LAMBDA_NAMES)
def test_pq_search_reads_the_column(spark, name):
    df = spark.createDataFrame(
        [(i, vec) for i, _, vec in VECS], f"vec_id long, `{name}` array<double>"
    )
    books = pq_codebooks_first(df, m=M, k=KC, vec_col=name)
    want = _adc_search([(i, vec, QUERY, vec) for i, _, vec in VECS], books, 5, 10)
    got = ann_pq(df, QUERY, books, k=5, shortlist=10, vec_col=name, round_to=None)
    assert [(r["vec_id"], r["d2"]) for r in got.collect()] == want


def _ivfpq_reference(cents, books, n_probe, k, shortlist):
    """Probe the n_probe cells most cosine-similar to QUERY (ties to the
    lowest cell), then ADC over residuals against each cell's own
    residual query."""
    def cos(a, b):
        den = math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))
        return sum(x * y for x, y in zip(a, b)) / den if den else 0.0

    probed = dict(sorted(cents, key=lambda c: (-cos(c[1], QUERY), c[0]))[:n_probe])
    rows = [
        (
            vid,
            [v - c for v, c in zip(vec, probed[cell])],
            [q - c for q, c in zip(QUERY, probed[cell])],
            vec,
        )
        for vid, cell, vec in VECS
        if cell in probed
    ]
    return _adc_search(rows, books, k, shortlist)


@pytest.mark.parametrize("name", LAMBDA_NAMES)
def test_ivfpq_search_reads_the_columns(spark, name):
    cents = [(0, [1.0, 0.5, -0.5, 0.0]), (1, [-1.0, 0.0, 1.0, 0.5]), (2, [0.0, -1.5, 0.0, 1.0])]
    for vec_col, cell_col in ((name, "label"), ("embedding", name)):
        df = spark.createDataFrame(
            [(i, cell, vec) for i, cell, vec in VECS],
            f"vec_id long, `{cell_col}` int, `{vec_col}` array<double>",
        )
        books = ivfpq_residual_codebooks(
            df, cents, m=M, k=KC, vec_col=vec_col, cell_col=cell_col
        )
        got = ann_ivfpq(
            df, QUERY, cents, books, k=5, n_probe=2, shortlist=10,
            cell_col=cell_col, vec_col=vec_col, round_to=None,
        )
        want = _ivfpq_reference(cents, books, n_probe=2, k=5, shortlist=10)
        assert [(r["vec_id"], r["d2"]) for r in got.collect()] == want


@pytest.mark.parametrize("name", ["acc", "x", "p"])
def test_normalize_and_cosine_builders_read_the_columns(spark, name):
    """l2_normalize_sql and cosine_sql over vector columns named like
    their lambda variables, against a Python fold."""
    rows = [(0, [3.0, 4.0], [4.0, -3.0]), (1, [0.0, 0.0], [1.0, 2.0]), (2, None, [0.5, 0.25])]

    def ref(a, b):
        if a is None or not any(a):
            return None, None
        ss, dot = 0.0, 0.0
        for x, y in zip(a, b):
            ss, dot = ss + x * x, dot + x * y
        nb = math.sqrt(sum(y * y for y in b))
        return [x / math.sqrt(ss) for x in a], dot / (math.sqrt(ss) * nb)

    other = _other(name)
    df = spark.createDataFrame(rows, f"id long, `{name}` array<double>, `{other}` array<double>")
    a, b = quote_ident(name), quote_ident(other)
    got = df.selectExpr(
        "id", a, b, f"{norm_sql(a)} AS na", f"{norm_sql(b)} AS nb"
    ).selectExpr(
        "id", f"{l2_normalize_sql(a)} AS u", f"{cosine_sql(a, b, 'na', 'nb')} AS c"
    )
    assert {r["id"]: (r["u"], r["c"]) for r in got.collect()} == {
        i: ref(va, vb) for i, va, vb in rows
    }
