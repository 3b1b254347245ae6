"""Edge-case pins for product quantization: the trainer
(``pq_codebooks_trained``) and the two searches that encode a corpus
(``ann_pq``, ``ann_ivfpq``), each against a pure-Python reference.

The semantics the reference spells out:

* a vector splits into m slices of d elements (a long vector's extra
  elements are ignored).  A slice is *whole* when it has d elements and
  no null element; a slice that is not whole (null, empty, short or
  null-element vector) has no distance to any codeword, so it takes the
  lowest codeword id — and in training it still counts in that code's
  ``n`` and adds the elements it has;
* dist² folds ``(a - b) * (a - b)`` from 0.0 in index order, NaN sorts
  above every number, and ties go to the lowest codeword id;
* trained codeword ids are persistent per subspace: a codeword no row
  picks is dropped and its id retired;
* the searches rank the ADC score and then the exact dist² ascending,
  numbers, then NaN, then NULL (a vector with no dist² never displaces
  a real neighbour), ties to the lowest id;
* ``ann_ivfpq`` probes cells by cosine to the query descending, a
  zero-norm centroid (no cosine) after every other, ties to the lowest
  cell.

Every value is a multiple of 0.25, so sums are exact in any order.
"""

from __future__ import annotations

import math
from itertools import zip_longest

import pytest

from flink_kmeans_clustering_spark.operators.common import session_conf
from flink_kmeans_clustering_spark.operators.similarity import (
    ann_ivfpq,
    ann_pq,
    pq_codebooks_trained,
)

NAN = float("nan")
M, D = 2, 2
ROWS = [  # (vec_id, label, embedding)
    (0, 0, [0.0, 0.0, 0.0, 0.0]),
    (1, 0, [0.0, 0.0, 0.0, 0.0]),    # duplicates row 0: init codeword 1 retires
    (2, 1, [2.5, -1.0, -3.25, 0.5]),
    (3, 1, [1.75, 0.0, 0.25, 0.0]),  # slice 0 ties codewords 1 and 2 of BOOKS
    (4, 1, [1.0, 1.25, -3.0, 0.75]),
    (5, 2, [-0.5, 0.25, 0.5, -0.25]),
    (6, 0, [3.0, -1.5, -2.75, 1.0]),
    (7, 2, [0.25, 0.5, 0.0, 0.25]),
    (20, 0, None),                              # null
    (21, 1, []),                                # empty
    (22, 2, [1.0]),                             # short: slice 0 short, slice 1 empty
    (23, 0, [1.0, 1.5, 2.0]),                   # short: slice 0 whole
    (24, 1, [2.5, -0.75, -3.0, 0.5, 9.0, 9.0]), # long: both slices whole
    (25, 2, [0.5, None, 0.25, 0.5]),            # null element in slice 0
    (26, 0, [NAN, 1.0, 0.5, 0.25]),             # NaN in slice 0
]
SCHEMA = "vec_id long, label int, embedding array<double>"
BOOKS = [  # ragged: 3 codewords in subspace 0, 2 in subspace 1
    [[0.0, 0.0], [1.0, 1.0], [2.5, -1.0]],
    [[0.0, 0.25], [-3.25, 0.5]],
]
CENTS = [(0, [0.0, 0.0, 0.0, 0.0]), (1, [1.0, 0.5, -1.0, 0.5]), (2, [-4.0, 4.0, 4.0, -4.0])]
QUERY = [0.25, 0.0, 0.0, 0.25]


@pytest.fixture(scope="module")
def rows_df(spark):
    return spark.createDataFrame(ROWS, SCHEMA)


def _fold(a, b):
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + (x - y) * (x - y)
    return acc


def _order(d2):
    """Ascending order of a nullable double, NULLs last: numbers, NaN, NULL."""
    if d2 is None:
        return (2, 0.0)
    if math.isnan(d2):
        return (1, 0.0)
    return (0, d2)


def _slice(vec, s):
    return None if vec is None else vec[s * D:(s + 1) * D]


def _whole(sub):
    return sub is not None and len(sub) == D and all(v is not None for v in sub)


def ref_code(sub, book, ids):
    """The id of the nearest codeword; the lowest id if ``sub`` is not whole."""
    if not _whole(sub):
        return min(ids)
    return min((_order(_fold(sub, c)), i) for i, c in zip(ids, book))[1]


def ref_train(vecs, k, iters):
    """Pure-Python pq_codebooks_trained over ``vecs`` in id order."""
    books = [[list(_slice(v, s)) for v in vecs[:k]] for s in range(M)]
    ids = [list(range(k)) for _ in range(M)]
    for _ in range(iters):
        for s in range(M):
            groups: dict[int, tuple] = {}
            for vec in vecs:
                sub = _slice(vec, s)
                code = ref_code(sub, books[s], ids[s])
                n, sums = groups.get(code, (0, [0.0] * D))
                for j, v in enumerate(sub or []):
                    if v is not None:
                        sums[j] = sums[j] + v
                groups[code] = (n + 1, sums)
            ids[s] = sorted(groups)
            books[s] = [[v / groups[i][0] for v in groups[i][1]] for i in ids[s]]
    return books


def ref_search(rows, k, shortlist):
    """ADC over ``(id, vector to encode, ADC lookup table, vector)``:
    codes by position, the score folded over subspaces, the shortlist
    cut on (score, id), then the exact dist² to QUERY cut on (d2, id)."""
    scored = []
    for vid, enc, lut, vec in rows:
        score = 0.0
        for s, book in enumerate(BOOKS):
            score = score + lut[s][ref_code(_slice(enc, s), book, range(len(book)))]
        scored.append((score, vid, vec))
    short = sorted(scored)[:shortlist]
    exact = []
    for _, vid, vec in short:
        # zip_with null-pads a length mismatch: NULL dist²
        ok = vec is not None and len(vec) == len(QUERY) and None not in vec
        d2 = _fold(vec, QUERY) if ok else None
        exact.append((_order(d2), vid, d2))
    return [(vid, d2) for _, vid, d2 in sorted(exact)[:k]]


def _lut(q):
    return [[_fold(q[s * D:(s + 1) * D], c) for c in book] for s, book in enumerate(BOOKS)]


def _same(got, want):
    """Row lists equal bit for bit, NaN equal to NaN."""
    return repr(got) == repr(want)


def test_pq_trained_edge_cases_match_python_reference(spark, rows_df):
    """Degenerate rows take the lowest code and count in its ``n``, with
    ANSI on (the SQL trainer read a short subvector out of bounds and
    raised) or off; the NaN row makes its code's mean NaN.  Without it,
    two iterations match exactly with the duplicated init codeword's id
    retired in both subspaces."""
    vecs = [v for _, _, v in ROWS]
    got = pq_codebooks_trained(rows_df, m=M, k=3, iters=1)
    assert _same(got, ref_train(vecs, 3, 1)), got
    assert math.isnan(got[0][0][0])
    with session_conf(spark, {"spark.sql.ansi.enabled": "false"}):
        got = pq_codebooks_trained(rows_df.where("vec_id <> 26"), m=M, k=3, iters=2)
    want = ref_train(vecs[:-1], 3, 2)
    assert got == want, (got, want)
    assert [len(b) for b in got] == [2, 2]


def test_ann_pq_edge_cases_match_python_reference(rows_df):
    """ann_pq over the ragged, tie-carrying BOOKS: degenerate rows are
    coded like the lowest codeword, reach the shortlist on that score
    and rank last in the final cut with a NULL dist², after NaN."""
    lut = _lut(QUERY)
    want = ref_search([(i, v, lut, v) for i, _, v in ROWS], k=12, shortlist=12)
    got = ann_pq(rows_df, QUERY, BOOKS, k=12, shortlist=12, round_to=None).collect()
    got = [(r["vec_id"], r["d2"]) for r in got]
    assert _same(got, want), (got, want)
    assert got[-1][1] is None


def test_ann_ivfpq_edge_cases_match_python_reference(rows_df):
    """ann_ivfpq encodes the residual (vector minus its cell's centroid,
    null-padded to the longer side) with the same rules; rows of the
    unprobed cell (the zero-norm centroid, ranked last) never appear."""
    def cos(a, b):
        den = math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))
        return sum(x * y for x, y in zip(a, b)) / den if den else -math.inf

    probed = dict(sorted(CENTS, key=lambda c: (-cos(c[1], QUERY), c[0]))[:2])
    assert sorted(probed) == [1, 2]
    rows = []
    for vid, cell, vec in ROWS:
        if cell not in probed:
            continue
        cent = probed[cell]
        res = None if vec is None else [
            None if a is None or b is None else a - b for a, b in zip_longest(vec, cent)
        ]
        rows.append((vid, res, _lut([q - c for q, c in zip(QUERY, cent)]), vec))
    want = ref_search(rows, k=8, shortlist=9)
    got = ann_ivfpq(
        rows_df, QUERY, CENTS, BOOKS, k=8, n_probe=2, shortlist=9, round_to=None
    ).collect()
    got = [(r["vec_id"], r["d2"]) for r in got]
    assert _same(got, want), (got, want)
