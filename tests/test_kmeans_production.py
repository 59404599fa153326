"""The one Lloyd trainer and nearest-centroid kernel behind k-means, IVF
and PQ (``queries/similarity_q.py``: ``_pq_train``, ``_pq_assign``,
``_nearest_codes``).

k-means is the trainer with one 64-dim subspace and 8 centroids, PQ the
trainer with 8 subspaces of 8 dims and 64 centroids each. Both are
checked bit for bit against a pure-numpy Lloyd written here; the plan
checks pin what makes the trainer scale: a round scans the embeddings
once and joins nothing, and assignment is map-only with a plan that does
not grow with the codebook.
"""

import functools
import operator
import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from aind_exaspim_data_transformation_spark.queries.similarity_q import (
    _KM_ITERS,
    _KM_K,
    _KM_SHAPE,
    _PQ_ITERS,
    _PQ_SHAPE,
    _codebook_from,
    _lloyd_round,
    _pq_assign,
    _pq_init,
    _pq_train,
)
from aind_exaspim_data_transformation_spark.sources.tables import load_table

from conftest import SF_SMALL


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_SMALL, "embeddings")


def _numpy_lloyd(ids, vs, shape, iters):
    """Reference Lloyd per subspace: seed = the vectors with id < K;
    assignment = argmin of a left-fold d2, ties to the lower k; update
    = per-dim mean of the members, summed in ascending value order.
    Returns ({m: (ks, cs)}, {m: final codes})."""
    n_sub, dim, n_cent = shape
    book, codes = {}, {}
    for m in range(n_sub):
        xs = vs[:, m * dim : (m + 1) * dim]
        ks, cs = ids[ids < n_cent], xs[ids < n_cent]

        def nearest(ks, cs):
            d2 = np.zeros((len(xs), len(ks)))
            for j in range(dim):
                d2 = d2 + (xs[:, None, j] - cs[None, :, j]) ** 2
            return ks[np.argmin(d2, axis=1)]

        for _ in range(iters):
            labels = nearest(ks, cs)
            ks = np.unique(labels)
            cs = np.array(
                [
                    [
                        functools.reduce(
                            operator.add, sorted(col.tolist()), 0.0
                        )
                        / len(col)
                        for col in xs[labels == k].T
                    ]
                    for k in ks
                ]
            )
        book[m], codes[m] = (ks, cs), nearest(ks, cs)
    return book, codes


@pytest.mark.parametrize(
    "shape, iters",
    [(_KM_SHAPE, _KM_ITERS), (_PQ_SHAPE, _PQ_ITERS)],
    ids=["1-64-8", "8-8-64"],
)
def test_trainer_matches_numpy_lloyd(spark, emb, shape, iters):
    pdf = emb.select("vec_id", "embedding").toPandas().sort_values("vec_id")
    ids = pdf["vec_id"].to_numpy()
    vs = np.array(pdf["embedding"].tolist(), dtype=np.float64)
    ref_book, ref_codes = _numpy_lloyd(ids, vs, shape, iters)

    book = _pq_train(emb, "embedding", shape, iters)
    assert sorted(book) == sorted(ref_book)
    for m, (ks, cs) in book.items():
        assert ks.tolist() == ref_book[m][0].tolist()
        assert cs.tobytes() == ref_book[m][1].tobytes(), m

    codes = {
        (r["vec_id"], r["m"]): r["k"]
        for r in _pq_assign(emb, "embedding", book).collect()
    }
    assert len(codes) == len(ids) * shape[0]
    for m, ks in ref_codes.items():
        assert [codes[(i, m)] for i in ids.tolist()] == ks.tolist(), m


def _formatted(df) -> str:
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(mode)


def test_training_round_scans_once_and_joins_nothing(spark, emb):
    """The assign pass emits each vector beside its code, so a round
    reads the embeddings once and never joins its assignment back to
    the vectors on vec_id."""
    book = _pq_init(emb, "embedding", _KM_SHAPE)
    plan = _formatted(_lloyd_round(emb, "embedding", book))
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 1, plan
    assert "Join" not in plan, plan


def test_assignment_is_map_only(spark, emb):
    book = _pq_init(emb, "embedding", _KM_SHAPE)
    plan = (
        _pq_assign(emb, "embedding", book)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan
    assert "Window" not in plan, plan


def test_large_codebook_plan_stays_small(spark, emb):
    """A 512 x 64 codebook (32768 doubles) rides in the kernel's
    closure: the plan must not embed it."""
    rng = np.random.default_rng(7)
    book = _codebook_from(
        [((0, k), rng.normal(size=64).tolist()) for k in range(512)]
    )
    plan = (
        _pq_assign(emb, "embedding", book)
        ._jdf.queryExecution()
        .analyzed()
        .toString()
    )
    assert len(plan) < 100_000, f"plan grew with the codebook: {len(plan)}"


def test_update_centroids_drops_empty_clusters(spark):
    """A centroid that wins no vector leaves the codebook, as in the
    oracles' group-by update."""
    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [2.0, 2.0]), (2, [5.0, 7.0])],
        "vec_id long, embedding array<float>",
    )
    book = _codebook_from(
        [((0, 0), [0.0, 0.0]), ((0, 1), [100.0, 100.0]), ((0, 3), [5.0, 7.0])]
    )
    out = {
        r["k"]: list(r["cvec"])
        for r in _lloyd_round(df, "embedding", book).collect()
    }
    assert out == {0: [1.0, 1.0], 3: [5.0, 7.0]}


def test_seed_matches_registry_seed(spark, emb):
    ks, cs = _pq_init(emb, "embedding", _KM_SHAPE)[0]
    assert ks.tolist() == list(range(_KM_K))
    first = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in emb.where(F.col("vec_id") < _KM_K).collect()
    }
    for k, c in zip(ks.tolist(), cs.tolist()):
        assert c == first[k]
