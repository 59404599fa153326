"""Similarity search over the ``embeddings`` table (north-star surface).

Brute-force cosine top-k as the correctness baseline, plus three scale
paths with tested recall (tests/test_ann_recall.py): multi-table
random-hyperplane LSH (md5-derived planes), IVF over the k-means
clusters with nprobe, and PQ with an ADC shortlist + exact rerank.
Dot products use double-precision folds; similarity is rounded to 6
decimals before ranking so both engines pick identical top-k sets.

Scale notes: brute-force is a broadcast join of the (tiny) query set
against the candidate table — O(Q x N) map-side, no shuffle of the big
side. The ANN paths shuffle only on bucket/cluster/code keys and touch
a bounded candidate fraction of the corpus.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table
from ._helpers import fan_out_small_scan
from .lifecycle import track_persist
from .registry import query

N_PLANES = 8


def _dot(a: str, b: str) -> Column:
    """Sequential-fold double dot product of two float vectors."""
    return F.aggregate(
        F.zip_with(
            F.col(a), F.col(b), lambda x, y: x.cast("double") * y.cast("double")
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: str) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(F.col(a), lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def _rerank_topk(
    cand: DataFrame, emb: DataFrame, n_queries: int, k: int
) -> DataFrame:
    """The exact tail of every ANN path: cosine similarity of each
    (qid, cid) candidate, rounded to 6 decimals, then the top ``k`` per
    query (ties to the lower cid). The query vectors (vec_id <
    ``n_queries``) broadcast; the candidates join the corpus by id."""
    q = emb.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    c = emb.select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("ce")
    )
    scored = (
        cand.join(F.broadcast(q), "qid")
        .join(c, "cid")
        .select(
            "qid",
            "cid",
            F.round(
                _dot("qe", "ce") / (_norm("qe") * _norm("ce")), 6
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos_sim"), F.asc("cid"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("qid", "cid", "cos_sim")
    )


_SQL_DOT = (
    "list_sum(list_transform(range(1, len({a}) + 1), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
)
_SQL_NORM = (
    "sqrt(list_sum(list_transform(range(1, len({a}) + 1), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE))))"
)


# --------------------------------------------------------------------------
# Brute-force cosine top-5 for query vectors (vec_id < 3).
# --------------------------------------------------------------------------
_KNN_ORACLE = f"""
WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
           WHERE vec_id < 3),
c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings),
scored AS (
  SELECT qid, cid,
    round({_SQL_DOT.format(a="qe", b="ce")}
      / ({_SQL_NORM.format(a="qe")} * {_SQL_NORM.format(a="ce")}), 6)
      AS cos_sim
  FROM q CROSS JOIN c
  WHERE qid <> cid)
SELECT qid, cid, cos_sim
FROM (SELECT qid, cid, cos_sim,
        ROW_NUMBER() OVER (PARTITION BY qid
                           ORDER BY cos_sim DESC, cid) AS rn
      FROM scored)
WHERE rn <= 5
"""


@query("q_knn_bruteforce", oracle=_KNN_ORACLE)
def q_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    c = emb.select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("ce")
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .where(F.col("qid") != F.col("cid"))
        .select(
            "qid",
            "cid",
            F.round(_dot("qe", "ce") / (_norm("qe") * _norm("ce")), 6).alias(
                "cos_sim"
            ),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos_sim"), F.asc("cid"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .select("qid", "cid", "cos_sim")
    )


# --------------------------------------------------------------------------
# Vector norms / projections (elementwise vector math surface).
# --------------------------------------------------------------------------
@query(
    "q_embedding_norms",
    oracle=f"""
SELECT vec_id, label,
  round({_SQL_NORM.format(a="embedding")}, 6) AS l2_norm,
  round(CAST(embedding[1] AS DOUBLE), 6) AS first_component,
  len(embedding) AS dim
FROM embeddings
""",
)
def q_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        "label",
        F.round(_norm("embedding"), 6).alias("l2_norm"),
        F.round(F.element_at("embedding", 1).cast("double"), 6).alias(
            "first_component"
        ),
        F.size("embedding").alias("dim"),
    )


# --------------------------------------------------------------------------
# Per-label centroids (posexplode + per-dimension mean) — the reduce step
# of k-means / IVF coarse quantization.
# --------------------------------------------------------------------------
@query(
    "q_label_centroids",
    oracle="""
SELECT label, i AS dim,
  round(SUM(CAST(embedding[i] AS DOUBLE)) / COUNT(*), 6) AS centroid
FROM embeddings, range(1, 65) t(i)
GROUP BY label, i
""",
)
def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "label", F.posexplode("embedding").alias("pos", "v")
    ).select("label", (F.col("pos") + 1).alias("dim"), F.col("v"))
    return exploded.groupBy("label", "dim").agg(
        F.round(
            F.sum(F.col("v").cast("double")) / F.count(F.lit(1)), 6
        ).alias("centroid")
    )


# --------------------------------------------------------------------------
# LSH bucketing: 8 deterministic md5-derived hyperplanes -> 256 buckets.
# plane component in {-1, +1} from the low bit of a md5 hex nibble.
# --------------------------------------------------------------------------
_PLANE_COMP = (
    "(CASE WHEN substr(md5(concat(CAST(p AS STRING), ',', "
    "CAST(i AS STRING))), 1, 1) IN "
    "('1','3','5','7','9','b','d','f') THEN 1.0 ELSE -1.0 END)"
)
# DuckDB casts ints with ::VARCHAR identically.
_PLANE_COMP_DUCK = _PLANE_COMP.replace("AS STRING", "AS VARCHAR")

# comps evaluates the dot as an index-ordered list kernel over a
# pre-aggregated 64-component plane list — one row per (vec, plane),
# never a per-dimension explode (embeddings x planes x dims held 512M
# grouped rows at sf10 and OOMed outside DuckDB's memory_limit; the
# list_transform form is verified bit-identical to the old
# list(... ORDER BY i) fold and is what lets the sf10 sweep hash-check
# the ANN family instead of rows-only — round-8 item 3).
_LSH_BUCKET_SQL = f"""
WITH planes AS (
  SELECT p, i, {_PLANE_COMP_DUCK} AS comp
  FROM range(0, {N_PLANES}) t1(p) CROSS JOIN range(1, 65) t2(i)),
pvecs AS (
  SELECT p, list(comp ORDER BY i) AS pv FROM planes GROUP BY p),
comps AS (
  SELECT e.vec_id, pl.p,
    list_sum(list_transform(range(1, 65),
      i -> CAST(e.embedding[i] AS DOUBLE) * pl.pv[i])) AS dot
  FROM embeddings e CROSS JOIN pvecs pl),
buckets AS (
  SELECT vec_id,
    CAST(SUM(CASE WHEN dot > 0 THEN power(2, p) ELSE 0 END) AS BIGINT)
      AS bucket
  FROM comps GROUP BY vec_id)
"""


@query(
    "q_lsh_bucket_histogram",
    oracle=_LSH_BUCKET_SQL
    + """
SELECT bucket, COUNT(*) AS n_vectors
FROM buckets GROUP BY bucket
""",
)
def q_lsh_bucket_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    buckets = _lsh_buckets(spark, sf_dir)
    return buckets.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_vectors")
    )


def _lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-14 row-local form (guide §2.4): the old shape exploded
    every embedding per dimension (rows x 64), broadcast-joined the
    per-(p, i) plane components, and shuffled (vec, p) groups through
    an ordered-fold aggregate — a corpus x 64 explode plus a corpus x 8
    exchange whose only purpose was an index-ordered dot product. The
    oracle's round-8 list-kernel form is now mirrored on the Spark
    side: pre-aggregate the 8 planes into one broadcast row of 64-dim
    lists and evaluate every dot as a row-local index-ordered zip_with
    fold — ((0+t1)+t2)+... exactly the oracle's list_sum(list_transform)
    order, so the dot>0 bits are bit-identical. The bucket sum of
    2^p terms is exact in double at any order. Map-only at every scale
    (the histogram groupBy is the single remaining exchange); measured
    1.36 s -> 0.68 s at sf0.1, identical output."""
    emb = load_table(spark, sf_dir, "embeddings")
    planes = (
        spark.range(N_PLANES)
        .select(F.col("id").alias("p"))
        .crossJoin(spark.range(1, 65).select(F.col("id").alias("i")))
        .select("p", "i", F.expr(_PLANE_COMP).alias("comp"))
    )
    pvs = (
        planes.groupBy("p")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "comp"))),
                lambda s: s["comp"],
            ).alias("pv")
        )
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("p", "pv"))),
                lambda s: s["pv"],
            ).alias("pvs")
        )
    )
    v = F.transform("embedding", lambda x: x.cast("double"))

    def dot_p(p: int) -> Column:
        return F.aggregate(
            F.zip_with(
                F.col("_v"), F.element_at("pvs", p + 1), lambda x, y: x * y
            ),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )

    bucket = None
    for p in range(N_PLANES):
        term = F.when(
            dot_p(p) > 0, F.pow(F.lit(2.0), F.lit(float(p)))
        ).otherwise(0.0)
        bucket = term if bucket is None else bucket + term
    return (
        emb.select("vec_id", v.alias("_v"))
        .crossJoin(F.broadcast(pvs))
        .select("vec_id", bucket.cast("long").alias("bucket"))
    )


# --------------------------------------------------------------------------
# ANN via multi-table LSH: _ANN_T independent hash tables of _ANN_B
# hyperplanes each (16 buckets/table), candidates = union of the
# query's bucket-mates across tables, exact cosine over the candidate
# set, top-3. A single 8-plane table has ~2 vectors/bucket at sf0.001
# and near-zero recall; the multi-table union is the standard
# recall/cost dial (measured recall@3 vs brute force is pinned in
# tests/test_ann_recall.py). At 100 TB: codes are map-only, the
# candidate join is bucketed on (table, code), and only candidate IDs
# — never the vector table — hit the pairwise stage.
# --------------------------------------------------------------------------
_ANN_T = 10  # hash tables
_ANN_B = 4  # hyperplanes per table

_PLANE3_COMP = (
    "(CASE WHEN substr(md5(concat(CAST(t AS STRING), ',', "
    "CAST(p AS STRING), ',', CAST(i AS STRING))), 1, 1) IN "
    "('1','3','5','7','9','b','d','f') THEN 1.0 ELSE -1.0 END)"
)
_PLANE3_DUCK = _PLANE3_COMP.replace("AS STRING", "AS VARCHAR")


def _plane_comps_py() -> dict[tuple[int, int], list[float]]:
    """The md5-derived +/-1 hyperplane components, computed driver-side.
    Bit-identical to the SQL `_PLANE3_COMP` (same md5, same nibble
    rule), so inlining them as literals preserves oracle hash parity."""
    import hashlib

    return {
        (t, p): [
            1.0
            if hashlib.md5(f"{t},{p},{i}".encode()).hexdigest()[0]
            in "13579bdf"
            else -1.0
            for i in range(1, 65)
        ]
        for t in range(_ANN_T)
        for p in range(_ANN_B)
    }


@query(
    "q_ann_lsh",
    oracle=f"""
WITH planes AS (
  SELECT t, p, i, {_PLANE3_DUCK} AS comp
  FROM range(0, {_ANN_T}) t1(t) CROSS JOIN range(0, {_ANN_B}) t2(p)
       CROSS JOIN range(1, 65) t3(i)),
pvecs AS (
  SELECT t, p, list(comp ORDER BY i) AS pv
  FROM planes GROUP BY t, p),
comps AS (
  SELECT e.vec_id, pl.t, pl.p,
    list_sum(list_transform(range(1, 65),
      i -> CAST(e.embedding[i] AS DOUBLE) * pl.pv[i])) AS dot
  FROM embeddings e CROSS JOIN pvecs pl),
codes AS (
  SELECT vec_id, t,
    CAST(SUM(CASE WHEN dot > 0 THEN power(2, p) ELSE 0 END) AS BIGINT)
      AS code
  FROM comps GROUP BY vec_id, t),
cand AS (
  SELECT DISTINCT q.vec_id AS qid, c.vec_id AS cid
  FROM codes q JOIN codes c ON q.t = c.t AND q.code = c.code
  WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id),
scored AS (
  SELECT cand.qid, cand.cid,
    round({_SQL_DOT.format(a="a.embedding", b="b.embedding")}
      / ({_SQL_NORM.format(a="a.embedding")}
         * {_SQL_NORM.format(a="b.embedding")}), 6) AS cos_sim
  FROM cand JOIN embeddings a ON cand.qid = a.vec_id
            JOIN embeddings b ON cand.cid = b.vec_id)
SELECT qid, cid, cos_sim
FROM (SELECT qid, cid, cos_sim,
        ROW_NUMBER() OVER (PARTITION BY qid
                           ORDER BY cos_sim DESC, cid) AS rn
      FROM scored)
WHERE rn <= 3
""",
)
def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ann_lsh_topk(spark, sf_dir, n_queries=5, k=3)


def ann_lsh_topk(
    spark: SparkSession, sf_dir: str, n_queries: int, k: int
) -> DataFrame:
    """Parameterized LSH top-k (round-14: the recall-at-scale harness
    needs recall@3/@10 over wider query sets; the registered query is
    this with (5, 3) — identical plan)."""
    # T x B x D fold evaluations per row are CPU-bound; a small
    # single-row-group embeddings file must fan out first.
    emb = fan_out_small_scan(load_table(spark, sf_dir, "embeddings"))
    # All T x B hyperplane projections are computed ROW-LOCALLY against
    # literal plane arrays (the planes are a deterministic function of
    # (t, p, i) — 2,560 doubles, known at plan time). The alternative
    # posexplode + plane-join + groupBy formulation shuffles and sorts
    # rows x dims x planes records (51M at a 20k corpus; at 100 TB it
    # would dwarf the data itself); this one is a single scan with
    # whole-stage-codegen folds and the dot order (i ascending) matches
    # the oracle's list_sum(... ORDER BY i) fold exactly.
    comps = _plane_comps_py()

    def dot_tp(t: int, p: int) -> Column:
        plane = F.array(*[F.lit(c) for c in comps[(t, p)]])
        return F.aggregate(
            F.zip_with(
                F.col("embedding"), plane, lambda x, y: x.cast("double") * y
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    def code_t(t: int) -> Column:
        bits = [
            F.when(dot_tp(t, p) > 0, F.pow(F.lit(2.0), F.lit(float(p))))
            .otherwise(0.0)
            for p in range(_ANN_B)
        ]
        total = bits[0]
        for b in bits[1:]:
            total = total + b
        return total.cast("long")

    codes = emb.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).cast("long").alias("t"),
                        code_t(t).alias("code"),
                    )
                    for t in range(_ANN_T)
                ]
            )
        ).alias("tc"),
    ).select("vec_id", F.col("tc.t").alias("t"), F.col("tc.code").alias("code"))
    qcodes = codes.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("qid"), "t", "code"
    )
    cand = (
        F.broadcast(qcodes)
        .join(codes, ["t", "code"])
        .where(F.col("qid") != F.col("vec_id"))
        .select("qid", F.col("vec_id").alias("cid"))
        .distinct()
    )
    return _rerank_topk(cand, emb, n_queries, k)


# (q_ann_ivf lives after the k-means section below — its coarse
# quantizer reuses the Lloyd's-iteration CTE chain / helpers.)


# --------------------------------------------------------------------------
# Embedding-cosine near-duplicate pairs within a label (blocked join).
# --------------------------------------------------------------------------
@query(
    "q_embedding_near_dup_pairs",
    oracle=f"""
WITH e AS (SELECT vec_id, label, embedding FROM embeddings WHERE vec_id < 100)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
  round({_SQL_DOT.format(a="a.embedding", b="b.embedding")}
    / ({_SQL_NORM.format(a="a.embedding")}
       * {_SQL_NORM.format(a="b.embedding")}), 6) AS cos_sim
FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE {_SQL_DOT.format(a="a.embedding", b="b.embedding")}
    / ({_SQL_NORM.format(a="a.embedding")}
       * {_SQL_NORM.format(a="b.embedding")}) >= 0.35
""",
)
def q_embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = (
        load_table(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") < 100)
        .select("vec_id", "label", "embedding")
    )
    a = e.alias("a")
    b = e.alias("b")
    pair = a.join(
        b,
        (F.col("a.label") == F.col("b.label"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    )
    dot = F.aggregate(
        F.zip_with(
            F.col("a.embedding"),
            F.col("b.embedding"),
            lambda x, y: x.cast("double") * y.cast("double"),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )

    def norm(col: str) -> Column:
        return F.sqrt(
            F.aggregate(
                F.transform(
                    F.col(col), lambda x: x.cast("double") * x.cast("double")
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
        )

    cos = dot / (norm("a.embedding") * norm("b.embedding"))
    return pair.where(cos >= 0.35).select(
        F.col("a.vec_id").alias("vec_a"),
        F.col("b.vec_id").alias("vec_b"),
        F.round(cos, 6).alias("cos_sim"),
    )


# --------------------------------------------------------------------------
# Product-quantization ANN (Jégou et al. 2011, "Product Quantization for
# Nearest Neighbor Search" — public paper). M=8 subspaces x 8 dims, K=64
# centroids per subspace, TRAINED per subspace with the fixed
# deterministic Lloyd protocol (round-11 verdict, Next #2): init = the
# first-64 subvectors, then _PQ_ITERS assign/update rounds — the one
# trainer q_kmeans_embeddings and the IVF paths run with one subspace
# (_pq_train: numpy argmin assignment in a map-only Arrow kernel;
# per-(m, k, dim) mean update), with the update's value-sorted fold
# keeping every centroid double bit-identical to the oracle's training
# chain. Encode = per-subspace argmin against the trained codebook
# (_pq_assign, the same kernel); search = asymmetric
# distance computation (ADC) against a broadcast per-query lookup
# table.
#
# Scale notes: the PQ code is M small ints per vector (64 bits vs 2 Kb
# raw) — the index that actually fits at 100 TB. Training shuffles
# N*M*D narrow (m, k, dim, val) rows per iteration into M*K*D groups
# (map-side combinable in the production plain-avg form) and collects
# only the M x K x D codebook; encode is a map-only Arrow kernel
# against the collected codebook; the ADC scan is map-only against a
# Q*M*K-row broadcast LUT, and the final aggregation shuffles Q*N code
# rows. Sub-distance folds are row-local sequential aggregates and the
# ADC sum folds a sorted collect_list, so every double is
# bit-deterministic regardless of partitioning.
# --------------------------------------------------------------------------
_PQ_M = 8
_PQ_D = 8  # dims per subspace (embedding dim 64 = _PQ_M * _PQ_D)
_PQ_K = 64
_PQ_ITERS = 2  # fixed Lloyd rounds (the q_kmeans deterministic protocol)
_PQ_R = 100  # ADC shortlist size before exact rerank (the recall dial:
# the shortlist+rerank is how production PQ search recovers recall
# while the exact pass touches only R candidates per query).
# Round-6 tuning, measured vs exact numpy ground truth at sf0.001
# (recall@3, averaged over 3 / 20 / 50 query vectors):
#   K=16 R=25  -> 0.67 / 0.58 / 0.48   (round-5 shipped config)
#   K=16 R=100 -> 0.89 / 0.88 / 0.79
#   K=64 R=50  -> 1.00 / 0.87 / 0.83
#   K=64 R=100 -> 1.00 / 0.92 / 0.93   (round-6 first-K codebook)
# Round-12 (k-means-trained codebooks, 2 Lloyd rounds, same R=100),
# measured with the same numpy ground-truth protocol at sf0.001:
#   init (first-K)   -> 1.00 over 3 queries / 0.927 over 50
#   trained (2 it.)  -> 1.00 over 3 queries / 0.980 over 50
# — on UNIFORM data training lifts the 50-query recall by +5.3pt.
# Round-13 re-measurement on CLUSTERED data (the regenerated GMM
# fixture, 32 Zipf-weighted clusters + planted near-dups): training
# still does its actual job — quantization distortion drops 3.2x
# (30.8 -> 9.7) — but recall@3 with the R=100 rerank is INSENSITIVE
# to training (0.96 untrained vs 0.92 trained over 50 queries, and
# the ordering holds down to R=5): a low-distortion codebook maps a
# whole tight cluster onto shared codes, so ADC ties across the
# cluster and the shortlist stops discriminating inside it. That is
# the textbook case for IVF-PQ residual encoding (PQ over the
# residual after coarse assignment); pinned with the measurement in
# tests/test_ann_recall.py::test_pq_training_reduces_distortion_clustered.
# K=64 is still a realistic codebook (production PQ uses 256/subspace);
# encode stays a map-only Arrow kernel and the rerank touches R=100 of
# N candidates — both unchanged in shape.

_PQ_SUB_D2 = (
    "list_sum(list_transform(range(1, {d} + 1), "
    "i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))"
).format(d=_PQ_D, a="{a}", b="{b}")

def _pq_train_cte(
    from_clause: str = "embeddings e", elem: str | None = None
) -> tuple[str, str, str]:
    """(CTE chain, final centroid CTE ``pcN``, final per-m centroid-
    list CTE ``pclN``) — the deterministic per-subspace Lloyd training
    the Spark side mirrors. Each round: assignment via the
    pre-aggregated-centlist argmin fold (the round-8 ANN-oracle
    pattern — row count stays N*M, no join explosion, min over
    struct(d, k) == lowest distance with ties to lowest k), then the
    centroid update as a per-(m, k) member-list fold with a per-dim
    ``list_sort`` so the mean's summation order is VALUE-sorted —
    bit-identical to the Spark side's sorted-fold update. Only the
    small per-round centroid lists (M x K rows) and the shared dbsubs
    are MATERIALIZED: each round's heavy work collapses into a small
    table instead of re-inlining the whole prior chain (CLAUDE.md
    multi-round-CTE rule), while the big per-row CTEs stay single-use
    inline.

    ``from_clause``/``elem`` parameterize the subvector source so the
    SAME training chain runs over raw embeddings (q_ann_pq) or over
    coarse-quantizer residuals (q_ann_ivfpq_residual): the source must
    expose ``vec_id`` as alias ``e`` and ``elem`` must yield subvector
    element ``i`` of subspace ``ms.m`` as DOUBLE."""
    if elem is None:
        elem = f"CAST(embedding[ms.m * {_PQ_D} + i] AS DOUBLE)"
    parts = [
        f"""ms AS MATERIALIZED (SELECT unnest(range(0, {_PQ_M})) AS m),
dbsubs AS MATERIALIZED (
  SELECT e.vec_id, ms.m,
    list_transform(range(1, {_PQ_D} + 1),
      i -> {elem}) AS svec
  FROM {from_clause} CROSS JOIN ms),
pc0 AS (
  SELECT m, vec_id AS k, svec AS cvec FROM dbsubs
  WHERE vec_id < {_PQ_K}),
pcl0 AS MATERIALIZED (
  SELECT m, list(struct_pack(k := k, cvec := cvec) ORDER BY k) AS cl
  FROM pc0 GROUP BY m)"""
    ]
    prev = "pcl0"
    for it in range(1, _PQ_ITERS + 1):
        parts.append(
            f""",
pa{it} AS (
  SELECT s.vec_id, s.m, s.svec,
    list_aggregate(
      list_transform(cc.cl,
        c -> struct_pack(
          d := {_PQ_SUB_D2.format(a="s.svec", b="c.cvec")},
          k := c.k)),
      'min').k AS k
  FROM dbsubs s JOIN {prev} cc ON s.m = cc.m),
pm{it} AS (
  SELECT m, k, COUNT(*) AS n, list(svec ORDER BY vec_id) AS mem
  FROM pa{it} GROUP BY m, k),
pc{it} AS MATERIALIZED (
  SELECT m, k,
    list_transform(range(1, {_PQ_D} + 1),
      i -> list_sum(list_sort(list_transform(mem, s -> s[i]))) / n)
      AS cvec
  FROM pm{it}),
pcl{it} AS MATERIALIZED (
  SELECT m, list(struct_pack(k := k, cvec := cvec) ORDER BY k) AS cl
  FROM pc{it} GROUP BY m)"""
        )
        prev = f"pcl{it}"
    return "".join(parts), f"pc{_PQ_ITERS}", prev


_PQ_TRAIN_CHAIN, _PQ_CENTS, _PQ_CENTLISTS = _pq_train_cte()

# The search tail of both PQ oracles (flat and residual): the top-_PQ_R
# ADC candidates per query from ``adc``, exact cosine, top 3 — the
# DuckDB twin of _adc_shortlist + _rerank_topk.
_PQ_RERANK_SQL = f"""shortlist AS (
  SELECT qid, cid
  FROM (SELECT qid, cid,
          ROW_NUMBER() OVER (PARTITION BY qid
                             ORDER BY approx_d2, cid) AS rn
        FROM adc)
  WHERE rn <= {_PQ_R}),
reranked AS (
  SELECT s.qid, s.cid,
    round({_SQL_DOT.format(a="a.embedding", b="b.embedding")}
      / ({_SQL_NORM.format(a="a.embedding")}
         * {_SQL_NORM.format(a="b.embedding")}), 6) AS cos_sim
  FROM shortlist s JOIN embeddings a ON s.qid = a.vec_id
                   JOIN embeddings b ON s.cid = b.vec_id)
SELECT qid, cid, cos_sim
FROM (SELECT qid, cid, cos_sim,
        ROW_NUMBER() OVER (PARTITION BY qid
                           ORDER BY cos_sim DESC, cid) AS rn
      FROM reranked)
WHERE rn <= 3
"""

_PQ_ORACLE = f"""
WITH {_PQ_TRAIN_CHAIN},
cents AS (SELECT k, m, cvec FROM {_PQ_CENTS}),
centlists AS (SELECT m, cl FROM {_PQ_CENTLISTS}),
enc AS (
  -- argmin over the pre-aggregated per-subspace centroid list (the
  -- round-8 ANN-oracle pattern): the join form (dbsubs x cents =
  -- 307M list-carrying rows at sf30) allocates outside DuckDB 1.0's
  -- memory accounting and OOMs the box; this fold keeps the row count
  -- at |dbsubs| and is the same argmin (min over struct(d, k) =
  -- lowest distance, ties to lowest k, identical to the join+min).
  SELECT s.vec_id, s.m,
    list_aggregate(
      list_transform(cc.cl,
        c -> struct_pack(
          d := {_PQ_SUB_D2.format(a="s.svec", b="c.cvec")},
          k := c.k)),
      'min').k AS k
  FROM dbsubs s JOIN centlists cc ON s.m = cc.m),
lut AS (
  SELECT q.vec_id AS qid, c.m, c.k,
    {_PQ_SUB_D2.format(a="q.qvec", b="c.cvec")} AS qd2
  FROM (SELECT vec_id, ms.m,
          list_transform(range(1, {_PQ_D} + 1),
            i -> CAST(embedding[ms.m * {_PQ_D} + i] AS DOUBLE)) AS qvec
        FROM embeddings CROSS JOIN ms WHERE vec_id < 3) q
  JOIN cents c ON q.m = c.m),
adc AS (
  SELECT l.qid, e.vec_id AS cid,
    round(list_sum(list(l.qd2 ORDER BY l.m)), 6) AS approx_d2
  FROM enc e JOIN lut l ON e.m = l.m AND e.k = l.k
  WHERE l.qid <> e.vec_id
  GROUP BY l.qid, e.vec_id),
{_PQ_RERANK_SQL}"""


def _pq_subvectors(id_col: str, out: str) -> list:
    """Explode an embedding row into (id, m, <out> double[8]) rows."""
    sub = F.explode(
        F.transform(
            F.sequence(F.lit(0), F.lit(_PQ_M - 1)),
            lambda m: F.struct(
                m.alias("m"),
                F.transform(
                    F.slice(F.col("embedding"), m * _PQ_D + 1, _PQ_D),
                    lambda x: x.cast("double"),
                ).alias(out),
            ),
        )
    )
    return [F.col(id_col), sub.alias("sub")]


def _pq_sub_d2(a: str, b: str) -> Column:
    return F.aggregate(
        F.zip_with(F.col(a), F.col(b), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


_PQ_ADAPTIVE_DIV = 2000  # production dial: shortlist R = max(_PQ_R,
# N // 2000) — R=100 up to 200k vectors, 1000 at 2M. Floor division on
# a non-negative count matches DuckDB's `//`.


def _adc_shortlist(
    adc: DataFrame, emb: DataFrame, shortlist_r: int, adaptive_r: bool
) -> DataFrame:
    """Top-R ADC shortlist per query. With ``adaptive_r`` the bound is
    the in-plan dial max(shortlist_r, N // 2000): a 1-row count
    aggregate broadcast onto the ranked candidates (no shuffle; the
    count scan is column-pruned to nothing by Parquet row-group
    stats)."""
    w_sl = Window.partitionBy("qid").orderBy("approx_d2", "cid")
    ranked = adc.withColumn("rn", F.row_number().over(w_sl))
    if adaptive_r:
        r_df = emb.agg(
            F.greatest(
                F.lit(shortlist_r).cast("long"),
                F.floor(
                    F.count(F.lit(1)) / F.lit(_PQ_ADAPTIVE_DIV)
                ).cast("long"),
            ).alias("r_dial")
        )
        return (
            ranked.crossJoin(F.broadcast(r_df))
            .where(F.col("rn") <= F.col("r_dial"))
            .select("qid", "cid")
        )
    return ranked.where(F.col("rn") <= shortlist_r).select("qid", "cid")


# Codebook TRAINING (round-12): one trainer for k-means, IVF and PQ.
# k-means is PQ with one subspace, so a trainer over the shape (M
# subspaces, D dims each, K centroids) serves the k-means / IVF coarse
# quantizer (1, 64, 8), flat PQ over the embeddings and IVF-PQ over the
# coarse residuals (8, 8, 64). It runs the deterministic Lloyd protocol:
# the first-K init, then a fixed number of rounds, each one map-only
# assign pass (the numpy kernel _nearest_codes in one mapInPandas, the
# codebook in the closure, each subvector emitted beside its code), one
# shuffle of narrow (m, k, dim, val) rows and one M x K x D codebook
# collect. The update's VALUE-sorted fold (_sorted_fold_update) mirrors
# the oracles' value-sorted sums, so every trained centroid double is
# bit-identical across engines (the q_kmeans determinism harness;
# production form = plain avg).
_PQ_SHAPE = (_PQ_M, _PQ_D, _PQ_K)


def _sorted_fold_update(
    dims: DataFrame, keys: list[str], out: str
) -> DataFrame:
    """The Lloyd update of the trainer: from (*keys, dim, val) member
    rows, each centroid's dim-ordered mean array ``out``, one row per
    ``keys``. A centroid that lost every member gets no row.

    Skew-audit note (round 8): the per-(key, dim) sorted fold holds one
    cluster's members for one dimension in a group — the ONE
    deliberately order-gathering aggregation left in the registry. It
    exists solely so the centroid double is bit-identical to the
    oracle's value-sorted sum under any partitioning; the production
    form is plain avg(val) (single-scalar state, map-side combine),
    identical modulo float association — see COVERAGE.md
    "Unbounded-state audit"."""
    means = dims.groupBy(*keys, "dim").agg(
        (
            F.aggregate(
                F.array_sort(F.collect_list("val")),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            / F.count(F.lit(1))
        ).alias("c")
    )
    # Bounded per-key state: list length = D dims (schema constant).
    return means.groupBy(*keys).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "c"))),
            lambda s: s["c"],
        ).alias(out)
    )


def _nearest_codes(
    xs: np.ndarray, ks: np.ndarray, cs: np.ndarray
) -> np.ndarray:
    """The id in ``ks`` of the nearest row of ``cs`` for every row of
    ``xs`` — the one nearest-centroid kernel behind every assignment of
    k-means, IVF and PQ, in training and in encode.

    d2 adds the squared per-dim differences in EXPLICIT dim order: each
    elementwise double op is IEEE-exact, so d2 is bit-identical to the
    SQL fold ((0+t0)+t1)+... the oracle runs. ``np.argmin`` returns the
    first minimum and ``ks`` is ascending, so an exact tie goes to the
    lowest k — the oracle's ``min(struct_pack(d, k))`` and ``ROW_NUMBER()
    ... ORDER BY d2, k``."""
    sq = (xs[:, None, :] - cs[None, :, :]) ** 2
    d2 = sq[..., 0].copy()
    for j in range(1, xs.shape[1]):
        d2 = d2 + sq[..., j]
    return ks[np.argmin(d2, axis=1)]


def _codebook_from(pairs: list[tuple[tuple[int, int], list[float]]]) -> dict:
    """{m: (ks int64[K_m], cents float64[K_m, D])} sorted by m and by k,
    from ((m, k), cvec) pairs."""
    book: dict[int, tuple] = {}
    for m in sorted({m for (m, _), _ in pairs}):
        rows = sorted((k, v) for (mm, k), v in pairs if mm == m)
        book[m] = (
            np.array([k for k, _ in rows], dtype=np.int64),
            np.array([v for _, v in rows], dtype=np.float64),
        )
    return book


def _pq_init(src: DataFrame, vec_col: str, shape: tuple) -> dict:
    """The seed codebook of ``shape`` (M, D, K): subspace m of each of
    the first K vectors (one bounded collect)."""
    n_sub, dim, n_cent = shape
    rows = src.where(F.col("vec_id") < n_cent).select("vec_id", vec_col)
    return _codebook_from(
        [
            (
                (m, int(r["vec_id"])),
                [float(x) for x in r[vec_col][m * dim : (m + 1) * dim]],
            )
            for r in rows.collect()
            for m in range(n_sub)
        ]
    )


def _pq_assign(
    src: DataFrame, vec_col: str, book: dict, with_vec: bool = False
) -> DataFrame:
    """(vec_id, m, k): per (vector, subspace), the id of the nearest
    centroid of ``book`` — the one assignment pass of training and
    encode, a map-only Arrow kernel with the codebook in its closure
    (the plan does not grow with K x D). ``with_vec`` adds the
    subvector as ``svec`` beside its code, so the update and the IVF
    residual read it there instead of joining back on vec_id."""
    dim = book[0][1].shape[1]

    def assign(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            vs = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            out = []
            for m, (ks, cs) in book.items():
                xs = vs[:, m * dim : (m + 1) * dim]
                cols = {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "m": np.full(n, m, dtype=np.int32),
                    "k": _nearest_codes(xs, ks, cs),
                }
                if with_vec:
                    cols["svec"] = xs.tolist()
                out.append(pd.DataFrame(cols))
            yield pd.concat(out, ignore_index=True)

    schema = "vec_id long, m int, k long"
    if with_vec:
        schema += ", svec array<double>"
    return src.select("vec_id", vec_col).mapInPandas(assign, schema)


def _lloyd_round(src: DataFrame, vec_col: str, book: dict) -> DataFrame:
    """(m, k, cvec): one Lloyd round from ``book`` — the assign pass,
    then the value-sorted mean of each centroid's subvectors."""
    dims = (
        _pq_assign(src, vec_col, book, with_vec=True)
        .select("m", "k", F.posexplode("svec").alias("pos", "val"))
        .select("m", "k", (F.col("pos") + 1).alias("dim"), "val")
    )
    return _sorted_fold_update(dims, ["m", "k"], "cvec")


def _pq_train(
    src: DataFrame, vec_col: str, shape: tuple, iters: int
) -> dict:
    """The trained codebook of ``shape`` (M, D, K) over ``src``'s
    ``vec_col`` vectors: the first-K init, then ``iters`` Lloyd rounds
    (one assign-and-update job and one codebook collect each)."""
    book = _pq_init(src, vec_col, shape)
    for _ in range(iters):
        book = _codebook_from(
            [
                ((int(r["m"]), int(r["k"])), list(r["cvec"]))
                for r in _lloyd_round(src, vec_col, book).collect()
            ]
        )
    return book


def _pq_cents(spark: SparkSession, book: dict) -> DataFrame:
    """(k, m, cvec): the codebook as a local relation for the LUT,
    probe, residual and norm sides (M x K x D doubles — bounded at any
    corpus scale)."""
    return spark.createDataFrame(
        [
            (int(k), int(m), [float(x) for x in cs[i]])
            for m, (ks, cs) in book.items()
            for i, k in enumerate(ks)
        ],
        "k long, m int, cvec array<double>",
    )


def _adc_sum(coded: DataFrame) -> DataFrame:
    """(qid, cid, approx_d2) from candidate codes joined to their query
    LUT rows (qid, vec_id, m, qd2): the ADC distance sums the M
    sub-distances over an m-sorted collect_list, so the double is
    bit-deterministic (bounded per-key state: list length = M, a schema
    constant — round-8 skew audit)."""
    return (
        coded.where(F.col("qid") != F.col("vec_id"))
        .groupBy("qid", F.col("vec_id").alias("cid"))
        .agg(
            F.round(
                F.aggregate(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("m"), F.col("qd2")))
                    ),
                    F.lit(0.0),
                    lambda acc, s: acc + s["qd2"],
                ),
                6,
            ).alias("approx_d2")
        )
    )


@query("q_ann_pq", oracle=_PQ_ORACLE)
def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ann_pq_topk(
        spark, sf_dir, n_queries=3, k=3, shortlist_r=_PQ_R
    )


def ann_pq_topk(
    spark: SparkSession,
    sf_dir: str,
    n_queries: int,
    k: int,
    shortlist_r: int = _PQ_R,
    adaptive_r: bool = False,
) -> DataFrame:
    """Parameterized flat-PQ top-k (round-14 recall-at-scale harness;
    the registered query is this with (3, 3, R=100) — identical plan).

    ``adaptive_r=True`` replaces the literal shortlist bound with the
    in-plan production dial R = max(R, N // 2000) computed from the
    corpus count (a broadcast 1-row cross join — no extra shuffle):
    the r14 recall-at-scale sweep measured fixed R=100 decaying from
    0.96 recall@3 at 500 vectors to 0.15 at 2M while R=N/2000 holds
    the floor, so production search must scale the shortlist with the
    corpus, not pin it."""
    # The numpy encode kernel is CPU-bound per row; fan the scan out so
    # every core gets an Arrow batch. track_persist (round 14, guide
    # §5): this multi-action training pipeline reads the vector
    # relation in every job — the init collect, one assign job per
    # Lloyd round, and the final encode/query/rerank plan — so without
    # the cache the scan + fan-out shuffle re-runs once per job
    # (unpersisted by lifecycle.managed_query in long-lived sessions).
    emb = track_persist(
        fan_out_small_scan(load_table(spark, sf_dir, "embeddings"))
    )
    codebook = _pq_train(emb, "embedding", _PQ_SHAPE, _PQ_ITERS)
    cents = _pq_cents(spark, codebook)
    enc = _pq_assign(emb, "embedding", codebook)
    qsubs = (
        emb.where(F.col("vec_id") < n_queries)
        .select(*_pq_subvectors("vec_id", "qvec"))
        .select(
            F.col("vec_id").alias("qid"),
            F.col("sub.m").alias("m"),
            F.col("sub.qvec").alias("qvec"),
        )
    )
    lut = qsubs.join(F.broadcast(cents), "m").select(
        "qid", "m", "k", _pq_sub_d2("qvec", "cvec").alias("qd2")
    )
    adc = _adc_sum(enc.join(F.broadcast(lut), ["m", "k"]))
    shortlist = _adc_shortlist(adc, emb, shortlist_r, adaptive_r)
    return _rerank_topk(shortlist, emb, n_queries, k)


# --------------------------------------------------------------------------
# Distributed k-means (Lloyd's algorithm) over the embeddings, K=8,
# two fixed iterations from a deterministic seed (the first K vectors).
# k-means is PQ with one 64-dim subspace, so training is _pq_train with
# shape (1, 64, 8) and the final assignment is _pq_assign: the same
# map-only numpy kernel and value-sorted update (_sorted_fold_update)
# the PQ paths run, and the coarse quantizer q_ann_ivf and the IVF-PQ
# queries train the same way.
#
# Determinism: the per-(cluster, dim) mean folds a VALUE-SORTED
# collect_list, so the double is identical under any partitioning and
# matches DuckDB's list_sum(list(val ORDER BY val)) exactly. A
# production run would use plain F.sum (order-free up to fp noise, no
# per-group materialization); the sorted fold is the cross-engine
# bit-determinism harness, swappable one line.
#
# Scale notes: per iteration the driver collects the K x D codebook
# (bounded), assignment is map-only and emits each vector beside its
# code, so the embeddings are scanned once per round and the only
# shuffle is the (k, dim) update; centroids stay K x D rows and always
# broadcast.
# --------------------------------------------------------------------------
_KM_K = 8
_KM_DIM = 64
_KM_ITERS = 2
_KM_SHAPE = (1, _KM_DIM, _KM_K)

_KM_D2 = (
    "list_sum(list_transform(range(1, {dim} + 1), "
    "i -> (v[i] - c[i]) * (v[i] - c[i])))"
).format(dim=_KM_DIM)


def _km_cte_chain() -> tuple[str, str]:
    """(CTE chain ending with ``afinal``, name of the final centroid
    CTE) — shared by the k-means query and the IVF index that reuses
    its geometric clusters as the coarse quantizer."""
    parts = [
        f"""
vecs AS MATERIALIZED (
  SELECT vec_id,
    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings),
dims AS MATERIALIZED (SELECT unnest(range(1, {_KM_DIM} + 1)) AS dim),
c0 AS (SELECT vec_id AS k, v AS c FROM vecs WHERE vec_id < {_KM_K})"""
    ]
    prev = "c0"
    for it in range(1, _KM_ITERS + 1):
        parts.append(
            f"""
a{it} AS (
  SELECT vec_id, k FROM (
    SELECT vecs.vec_id, {prev}.k,
      ROW_NUMBER() OVER (PARTITION BY vecs.vec_id
                         ORDER BY {_KM_D2}, {prev}.k) AS rn
    FROM vecs CROSS JOIN {prev})
  WHERE rn = 1),
u{it} AS (
  SELECT a{it}.k, dims.dim,
    list_sum(list(vecs.v[dims.dim] ORDER BY vecs.v[dims.dim]))
      / COUNT(*) AS c
  FROM vecs JOIN a{it} USING (vec_id) CROSS JOIN dims
  GROUP BY a{it}.k, dims.dim),
c{it} AS (SELECT k, list(c ORDER BY dim) AS c FROM u{it} GROUP BY k)"""
        )
        prev = f"c{it}"
    parts.append(
        f"""
afinal AS (
  SELECT vec_id, k FROM (
    SELECT vecs.vec_id, {prev}.k,
      ROW_NUMBER() OVER (PARTITION BY vecs.vec_id
                         ORDER BY {_KM_D2}, {prev}.k) AS rn
    FROM vecs CROSS JOIN {prev})
  WHERE rn = 1)"""
    )
    return ",".join(parts), prev


def _km_oracle() -> str:
    chain, prev = _km_cte_chain()
    return (
        "WITH "
        + chain
        + f"""
SELECT a.k, COUNT(*) AS n_members,
  CAST(MIN(a.vec_id) AS BIGINT) AS min_vec,
  ANY_VALUE(cn.norm) AS centroid_norm
FROM afinal a
JOIN (SELECT k,
        sqrt(list_sum(list_transform(c, x -> x * x))) AS norm
      FROM {prev}) cn ON a.k = cn.k
GROUP BY a.k"""
    )


@query("q_kmeans_embeddings", oracle=_km_oracle())
def q_kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The assignment kernel is CPU-bound per row; fan out.
    emb = fan_out_small_scan(load_table(spark, sf_dir, "embeddings"))
    book = _pq_train(emb, "embedding", _KM_SHAPE, _KM_ITERS)
    final = _pq_assign(emb, "embedding", book)
    norms = _pq_cents(spark, book).select(
        "k",
        F.sqrt(
            F.aggregate(
                F.transform(F.col("cvec"), lambda x: x * x),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ).alias("centroid_norm"),
    )
    return (
        final.groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min("vec_id").alias("min_vec"),
        )
        .join(F.broadcast(norms), "k")
        .select("k", "n_members", "min_vec", "centroid_norm")
    )


# --------------------------------------------------------------------------
# ANN via IVF over the k-means clusters: the Lloyd's centroids above are
# the coarse quantizer (geometric clusters — the embeddings' `label`
# column does NOT correlate with cosine geometry, so label-centroid
# probing has ~zero recall), every vector is assigned to its nearest
# centroid, and each query probes its _IVF_NPROBE nearest clusters
# before an exact rerank inside them. Measured recall@3 vs brute force
# is pinned in tests/test_ann_recall.py. At 100 TB: the codebook
# broadcasts (K x 64 doubles), assignment is map-only, and search
# touches ~nprobe/K of the corpus.
# --------------------------------------------------------------------------
_IVF_NPROBE = 3


def _ivf_probes(
    emb: DataFrame, cents: DataFrame, n_queries: int, nprobe: int, out: str
) -> DataFrame:
    """(qid, <out>): each query vector's ``nprobe`` nearest cells of the
    (k, cvec) coarse codebook ``cents``, ties to the lower k — the
    oracle's ``ROW_NUMBER() ... ORDER BY d2, k`` over the broadcast
    K-row codebook."""
    d2 = F.aggregate(
        F.zip_with(
            F.col("embedding"),
            F.col("cvec"),
            lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w_probe = Window.partitionBy("qid").orderBy("d2", "k")
    return (
        emb.where(F.col("vec_id") < n_queries)
        .crossJoin(F.broadcast(cents))
        .select(F.col("vec_id").alias("qid"), "k", d2.alias("d2"))
        .withColumn("rn", F.row_number().over(w_probe))
        .where(F.col("rn") <= nprobe)
        .select("qid", F.col("k").alias(out))
    )


def _ivf_oracle() -> str:
    chain, prev = _km_cte_chain()
    return (
        "WITH "
        + chain
        + f""",
qprobe AS (
  SELECT vec_id AS qid, k AS cluster
  FROM (SELECT vecs.vec_id, {prev}.k,
          ROW_NUMBER() OVER (PARTITION BY vecs.vec_id
                             ORDER BY {_KM_D2}, {prev}.k) AS rn
        FROM vecs CROSS JOIN {prev}
        WHERE vecs.vec_id < 5)
  WHERE rn <= {_IVF_NPROBE}),
cand AS (
  SELECT DISTINCT qp.qid, asgn.vec_id AS cid
  FROM qprobe qp JOIN afinal asgn ON asgn.k = qp.cluster
  WHERE asgn.vec_id <> qp.qid),
scored AS (
  SELECT cand.qid, cand.cid,
    round({_SQL_DOT.format(a="qa.embedding", b="cb.embedding")}
      / ({_SQL_NORM.format(a="qa.embedding")}
         * {_SQL_NORM.format(a="cb.embedding")}), 6) AS cos_sim
  FROM cand JOIN embeddings qa ON cand.qid = qa.vec_id
            JOIN embeddings cb ON cand.cid = cb.vec_id)
SELECT qid, cid, cos_sim
FROM (SELECT qid, cid, cos_sim,
        ROW_NUMBER() OVER (PARTITION BY qid
                           ORDER BY cos_sim DESC, cid) AS rn
      FROM scored)
WHERE rn <= 3"""
    )


@query("q_ann_ivf", oracle=_ivf_oracle())
def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ann_ivf_topk(
        spark, sf_dir, n_queries=5, k=3, nprobe=_IVF_NPROBE
    )


def ann_ivf_topk(
    spark: SparkSession,
    sf_dir: str,
    n_queries: int,
    k: int,
    nprobe: int = _IVF_NPROBE,
) -> DataFrame:
    """Parameterized IVF top-k (round-14 recall-at-scale harness; the
    registered query is this with (5, 3, nprobe=3) — identical plan).
    """
    # Same CPU-bound fan-out as q_kmeans_embeddings (assignment kernel).
    emb = fan_out_small_scan(load_table(spark, sf_dir, "embeddings"))
    book = _pq_train(emb, "embedding", _KM_SHAPE, _KM_ITERS)
    cents = _pq_cents(spark, book).drop("m")
    cells = _pq_assign(emb, "embedding", book)
    probes = _ivf_probes(emb, cents, n_queries, nprobe, "cluster")
    cand = (
        F.broadcast(probes)
        .join(cells, probes["cluster"] == cells["k"])
        .where(F.col("qid") != F.col("vec_id"))
        .select("qid", F.col("vec_id").alias("cid"))
        .distinct()
    )
    return _rerank_topk(cand, emb, n_queries, k)


# --------------------------------------------------------------------------
# IVF-PQ with RESIDUAL encoding — the production composition of the
# coarse quantizer and the product quantizer (the FAISS IVFPQ shape),
# added in round 13 because the clustered-fixture measurement showed
# exactly the textbook failure it fixes: flat PQ over clustered data
# maps whole clusters onto shared codes (trained distortion drops 3.2x
# but ADC ties inside a cluster, so the shortlist stops discriminating
# — see tests/test_ann_recall.py::test_pq_training_reduces_distortion_
# clustered). Quantizing the RESIDUAL r = v - c_cell after coarse
# assignment re-centers every cell at the origin, so the PQ codebook's
# resolution is spent on WITHIN-cell structure. Measured on the
# clustered fixture (numpy sim, 50 queries, nprobe=2, recall@3 at
# shortlist R=5/10/25/100):
#   flat PQ, trained:     0.23 / 0.37 / 0.68 / 0.92
#   residual PQ, trained: 0.36 / 0.49 / 0.72 / 0.95
# — residual encoding recovers the training loss at EVERY shortlist
# size (the nprobe=2 coarse stage caps the ceiling near 0.95); the
# R=100 query below is pinned on the clustered fixture in
# tests/test_ann_recall.py.
#
# Pipeline (every stage is a function the flat paths run too):
#   coarse = _pq_train, shape (1, 64, 8)           [bounded collect]
#   r      = v - c_assign: the coarse _pq_assign   [map-only zip_with]
#            emits v beside its cell
#   PQ     = _pq_train / _pq_assign over column rv [narrow shuffles]
#            (oracle: _pq_train_cte over rvecs)
#   search = _ivf_probes (nprobe=2 cells); per-cell query residual ->
#            ADC LUT over candidates OF THAT CELL only (_adc_sum);
#            _adc_shortlist R; _rerank_topk.
# Scale: identical cost shape to q_ann_pq plus one broadcast join for
# the cell id; the search side touches ~nprobe/K of the codes and the
# LUT is Q x nprobe x M x K doubles — broadcast at any corpus scale.
# --------------------------------------------------------------------------
_IVFPQ_NPROBE = 2


def _ivfpq_oracle() -> str:
    km_chain, km_cents = _km_cte_chain()
    pq_chain, pq_cents, pq_centlists = _pq_train_cte(
        from_clause="rvecs e",
        elem=f"e.rv[ms.m * {_PQ_D} + i]",
    )
    return f"""
WITH {km_chain},
rvecs AS MATERIALIZED (
  SELECT v.vec_id, a.k AS cell,
    list_transform(range(1, {_KM_DIM} + 1),
      i -> v.v[i] - c.c[i]) AS rv
  FROM vecs v JOIN afinal a USING (vec_id)
  JOIN {km_cents} c ON a.k = c.k),
{pq_chain},
rcents AS (SELECT k, m, cvec FROM {pq_cents}),
rcentlists AS (SELECT m, cl FROM {pq_centlists}),
renc AS (
  SELECT s.vec_id, s.m,
    list_aggregate(
      list_transform(cc.cl,
        c -> struct_pack(
          d := {_PQ_SUB_D2.format(a="s.svec", b="c.cvec")},
          k := c.k)),
      'min').k AS k
  FROM dbsubs s JOIN rcentlists cc ON s.m = cc.m),
qprobe AS (
  SELECT vec_id AS qid, k AS cell
  FROM (SELECT vecs.vec_id, {km_cents}.k,
          ROW_NUMBER() OVER (PARTITION BY vecs.vec_id
                             ORDER BY {_KM_D2}, {km_cents}.k) AS rn
        FROM vecs CROSS JOIN {km_cents}
        WHERE vecs.vec_id < 3)
  WHERE rn <= {_IVFPQ_NPROBE}),
qres AS (
  SELECT qp.qid, qp.cell,
    list_transform(range(1, {_KM_DIM} + 1),
      i -> v.v[i] - c.c[i]) AS rq
  FROM qprobe qp JOIN vecs v ON qp.qid = v.vec_id
  JOIN {km_cents} c ON qp.cell = c.k),
rlut AS (
  SELECT q.qid, q.cell, c.m, c.k,
    {_PQ_SUB_D2.format(a="q.qsub", b="c.cvec")} AS qd2
  FROM (SELECT qid, cell, ms.m,
          list_transform(range(1, {_PQ_D} + 1),
            i -> rq[ms.m * {_PQ_D} + i]) AS qsub
        FROM qres CROSS JOIN ms) q
  JOIN rcents c ON q.m = c.m),
adc AS (
  SELECT l.qid, e.vec_id AS cid,
    round(list_sum(list(l.qd2 ORDER BY l.m)), 6) AS approx_d2
  FROM renc e
  JOIN rvecs rv ON e.vec_id = rv.vec_id
  JOIN rlut l ON rv.cell = l.cell AND e.m = l.m AND e.k = l.k
  WHERE l.qid <> e.vec_id
  GROUP BY l.qid, e.vec_id),
{_PQ_RERANK_SQL}"""


@query("q_ann_ivfpq_residual", oracle=_ivfpq_oracle())
def q_ann_ivfpq_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ann_ivfpq_residual_topk(
        spark, sf_dir, n_queries=3, k=3,
        nprobe=_IVFPQ_NPROBE, shortlist_r=_PQ_R,
    )


def ann_ivfpq_residual_topk(
    spark: SparkSession,
    sf_dir: str,
    n_queries: int,
    k: int,
    nprobe: int = _IVFPQ_NPROBE,
    shortlist_r: int = _PQ_R,
    adaptive_r: bool = False,
) -> DataFrame:
    """Parameterized IVF-PQ-residual top-k (round-14 recall-at-scale
    harness; the registered query is this with (3, 3, nprobe=2,
    R=100) — identical plan). ``adaptive_r`` switches the shortlist
    bound to the in-plan max(R, N // 2000) dial (see ann_pq_topk)."""
    # Round-14 (guide §5): persist the embeddings and the residual
    # relation. This operator is a multi-action pipeline — k-means
    # training, the PQ init collect, _PQ_ITERS training rounds, the
    # encode pass and the search each launch their own job — and
    # without the caches every one of them re-ran the scan and its
    # fan-out exchange from the parquet file (the rerank tail and the
    # adaptive shortlist's count included), and the residuals' coarse
    # assign -> broadcast-join -> zip_with chain. Measured 2.53 s ->
    # 1.38 s at sf0.1, identical output. At scale both caches are
    # corpus-rows x (64 floats or doubles) — the same relation every
    # IVF-PQ implementation keeps materialized while it trains.
    emb = track_persist(
        fan_out_small_scan(load_table(spark, sf_dir, "embeddings"))
    )
    coarse = _pq_train(emb, "embedding", _KM_SHAPE, _KM_ITERS)
    cents = _pq_cents(spark, coarse).drop("m")
    # Residuals: the coarse assign pass emits each vector beside its
    # cell; map-only elementwise subtraction against the broadcast
    # coarse codebook (bit-identical to the oracle's v[i] - c[i]).
    rvecs = track_persist(
        _pq_assign(emb, "embedding", coarse, with_vec=True)
        .join(F.broadcast(cents), "k")
        .select(
            "vec_id",
            F.col("k").alias("cell"),
            F.zip_with("svec", "cvec", lambda x, y: x - y).alias("rv"),
        )
    )

    codebook = _pq_train(rvecs, "rv", _PQ_SHAPE, _PQ_ITERS)
    rcents = _pq_cents(spark, codebook)
    enc = _pq_assign(rvecs, "rv", codebook)

    # --- Search: probe nprobe cells, per-cell query residual LUT, ADC
    # over that cell's candidates only, shortlist, exact rerank.
    probes = _ivf_probes(emb, cents, n_queries, nprobe, "cell")
    qres = (
        probes.join(
            emb.select(F.col("vec_id").alias("qid"), "embedding"), "qid"
        )
        .join(
            F.broadcast(cents.withColumnRenamed("k", "cell")),
            "cell",
        )
        .select(
            "qid",
            "cell",
            F.zip_with(
                "embedding", "cvec", lambda x, y: x.cast("double") - y
            ).alias("rq"),
        )
    )
    qsub = F.explode(
        F.transform(
            F.sequence(F.lit(0), F.lit(_PQ_M - 1)),
            lambda m: F.struct(
                m.alias("m"),
                F.slice(F.col("rq"), m * _PQ_D + 1, _PQ_D).alias("qsub"),
            ),
        )
    )
    rlut = (
        qres.select("qid", "cell", qsub.alias("s"))
        .select("qid", "cell", F.col("s.m").alias("m"),
                F.col("s.qsub").alias("qsub"))
        .join(F.broadcast(rcents), "m")
        .select(
            "qid", "cell", "m", "k",
            _pq_sub_d2("qsub", "cvec").alias("qd2"),
        )
    )
    cells = rvecs.select("vec_id", "cell")
    adc = _adc_sum(
        enc.join(cells, "vec_id").join(F.broadcast(rlut), ["cell", "m", "k"])
    )
    shortlist = _adc_shortlist(adc, emb, shortlist_r, adaptive_r)
    return _rerank_topk(shortlist, emb, n_queries, k)
