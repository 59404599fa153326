"""The nearest-code kernel that PQ training and encode share
(``similarity_q._nearest_codes``), checked without Spark against a
per-row Python argmin over a left-fold d2 — the form of the oracle's
``list_sum`` fold and ``min(struct_pack(d := ..., k := ...))``: lowest
distance, an exact tie to the lower k."""

import random

import numpy as np

from aind_exaspim_data_transformation_spark.queries.similarity_q import (
    _PQ_D,
    _PQ_M,
    _codebook_from,
    _nearest_codes,
)


def _reference_codes(xs, ks, cs):
    out = []
    for x in xs.tolist():
        best = None
        for k, c in zip(ks.tolist(), cs.tolist()):
            d = 0.0
            for a, b in zip(x, c):
                d = d + (a - b) * (a - b)
            best = min(best, (d, k)) if best is not None else (d, k)
        out.append(best[1])
    return out


def test_codes_match_left_fold_argmin():
    rng = np.random.default_rng(11)
    xs = rng.normal(size=(300, _PQ_D))
    cs = rng.normal(size=(64, _PQ_D))
    ks = np.arange(64, dtype=np.int64) * 3 + 1
    assert _nearest_codes(xs, ks, cs).tolist() == _reference_codes(
        xs, ks, cs
    )


def test_exact_tie_goes_to_lower_k():
    e1 = [1.0] + [0.0] * (_PQ_D - 1)
    far = [5.0] * _PQ_D
    # +e1 and -e1 are both at d2 = 1 from the origin; the duplicate of
    # +e1 ties it exactly.
    pairs = [
        ((0, 9), [-x for x in e1]),
        ((0, 2), far),
        ((0, 5), e1),
        ((0, 7), e1),
    ]
    random.Random(3).shuffle(pairs)
    ks, cs = _codebook_from(pairs)[0]
    assert ks.tolist() == [2, 5, 7, 9]
    xs = np.array([[0.0] * _PQ_D, e1, far], dtype=np.float64)
    assert _nearest_codes(xs, ks, cs).tolist() == [5, 5, 2]
    assert _reference_codes(xs, ks, cs) == [5, 5, 2]


def test_codebook_from_sorts_every_subspace():
    rng = np.random.default_rng(5)
    pairs = [
        ((m, k), rng.normal(size=_PQ_D).tolist())
        for m in range(_PQ_M)
        for k in (40, 3, 17)
    ]
    book = _codebook_from(pairs)
    assert sorted(book) == list(range(_PQ_M))
    for m, (ks, cs) in book.items():
        assert ks.tolist() == [3, 17, 40]
        assert cs.tolist() == [v for (mm, k), v in sorted(pairs) if mm == m]
