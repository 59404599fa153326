"""Production k-means (operators/kmeans.py) vs the registry query's
deterministic-fold form: same assignments, same cluster sizes, centroids
equal within float-association tolerance (round-8 verdict, Next #7).

Also pins the production path's plan shape: assignment must be map-only
(no Exchange, no Window) — the whole point of the broadcast-literal
codebook.
"""

import math

import pytest
from pyspark.sql import functions as F

from aind_exaspim_data_transformation_spark.operators.kmeans import (
    assign_nearest,
    lloyd,
    seed_first_k,
    update_centroids,
)
from aind_exaspim_data_transformation_spark.queries.similarity_q import (
    _KM_ITERS,
    _KM_K,
    _km_centroids,
    _km_codebook,
)
from aind_exaspim_data_transformation_spark.sources.tables import load_table

from conftest import SF_SMALL


@pytest.fixture(scope="module")
def vecs(spark):
    emb = load_table(spark, SF_SMALL, "embeddings")
    return emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    ).cache()


def test_production_centroids_match_deterministic_fold(spark, vecs):
    prod = dict(lloyd(vecs, _KM_K, _KM_ITERS))
    det = {
        r["k"]: list(r["c"]) for r in _km_centroids(vecs).collect()
    }
    assert set(prod) == set(det)
    for k in det:
        for a, b in zip(prod[k], det[k]):
            # identical inputs, different float association order
            assert math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12), (
                k, a, b,
            )


def test_trained_codebook_literal_matches_pandas_fallback(spark, vecs):
    """The registry queries assign with ``assign_nearest`` over the
    trained ``_km_centroids`` codebook, on the literal path. The pandas
    fallback (``max_literal_values=0``: one matmul per batch over the
    expanded-form d2) is the other real form; on the trained codebook,
    not only the seed, both must pick the same centroid for every
    vector."""
    codebook = _km_codebook(_km_centroids(vecs))
    assert len(codebook) == _KM_K
    lit = {
        r["vec_id"]: r["k"]
        for r in assign_nearest(vecs, codebook)
        .select("vec_id", "k")
        .collect()
    }
    fallback = {
        r["vec_id"]: r["k"]
        for r in assign_nearest(vecs, codebook, max_literal_values=0)
        .select("vec_id", "k")
        .collect()
    }
    assert len(lit) == vecs.count()
    assert fallback == lit


def test_assignment_is_map_only(spark, vecs):
    codebook = seed_first_k(vecs, _KM_K)
    plan = (
        assign_nearest(vecs, codebook)
        .select("vec_id", "k")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan
    assert "Window" not in plan, plan


def test_pandas_fallback_matches_literal_assignments(spark, vecs):
    """Round-9 advice (What's wrong #4): codebooks past
    LITERAL_CODEBOOK_MAX_VALUES route through the Pandas-UDF
    broadcast-closure path. Same assignments as the literal plan on the
    embeddings table (deterministic inputs, no exact inter-centroid
    ties), and still map-only."""
    codebook = seed_first_k(vecs, _KM_K)
    lit = {
        r["vec_id"]: r["k"]
        for r in assign_nearest(vecs, codebook).select("vec_id", "k").collect()
    }
    fallback_df = assign_nearest(
        vecs, codebook, max_literal_values=0
    ).select("vec_id", "k")
    plan = fallback_df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan, plan  # really took the UDF path
    assert "Exchange" not in plan and "Window" not in plan, plan
    pd_assign = {r["vec_id"]: r["k"] for r in fallback_df.collect()}
    assert pd_assign == lit


def test_large_codebook_routes_to_pandas_and_plan_stays_small(spark, vecs):
    """K=512 x D=64 = 32768 values > the 16384 default: the literal form
    would build one plan node per double (the compile-cost failure the
    bound exists for); the fallback's plan must stay O(1) in K*D."""
    import numpy as np

    from aind_exaspim_data_transformation_spark.operators.kmeans import (
        LITERAL_CODEBOOK_MAX_VALUES,
    )

    # embeddings are D=64: K=512 centroids -> 32768 codebook values
    rng = np.random.default_rng(7)
    big = [(k, rng.normal(size=64).tolist()) for k in range(512)]
    assert sum(len(c) for _, c in big) > LITERAL_CODEBOOK_MAX_VALUES
    df = assign_nearest(vecs, big)
    plan = df._jdf.queryExecution().analyzed().toString()
    assert "ArrowEvalPython" in str(
        df._jdf.queryExecution().executedPlan().toString()
    )
    # the 32768 doubles must NOT be embedded in the plan text
    assert len(plan) < 100_000, f"plan grew with the codebook: {len(plan)}"


def test_update_centroids_drops_empty_clusters(spark):
    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (0, [2.0, 2.0]), (3, [5.0, 7.0])],
        "k int, v array<double>",
    )
    out = dict(update_centroids(df))
    assert out == {0: [1.0, 1.0], 3: [5.0, 7.0]}


def test_seed_matches_registry_seed(spark, vecs):
    seed = seed_first_k(vecs, _KM_K)
    assert [k for k, _ in seed] == list(range(_KM_K))
    first = {
        r["vec_id"]: list(r["v"])
        for r in vecs.where(F.col("vec_id") < _KM_K).collect()
    }
    for k, c in seed:
        assert c == first[k]
