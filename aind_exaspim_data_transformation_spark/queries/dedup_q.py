"""Deduplication operators over ``documents`` (north-star surface).

Exact dedup (hash-groupBy), MinHash + LSH banding (shingle -> minhash ->
band -> bucket join), SimHash, and n-gram Jaccard — every step expressed
with built-in functions on a shared deterministic hash (md5), so the DuckDB
oracle computes the identical signatures.

Scale design: all pair generation goes through bucket joins (LSH bands or
blocking keys), never an unbounded cross join; the shuffle key is always
the bucket, and per-bucket fan-out is bounded by the band width.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table
from ._helpers import adjacent_grams
from ._helpers import fan_out_small_scan as _fan_out_small_scan
from .lifecycle import track_persist
from .registry import query

N_HASHES = 8  # minhash permutations
N_BANDS = 4  # LSH bands (2 rows per band)


# --------------------------------------------------------------------------
# Exact dedup: hash-groupBy on normalized text, keep min doc_id.
# --------------------------------------------------------------------------
@query(
    "q_dedup_exact",
    oracle="""
SELECT md5(text) AS fingerprint,
  MIN(doc_id) AS keeper_doc_id,
  COUNT(*) AS n_copies
FROM documents
GROUP BY md5(text)
""",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy(F.md5("text").alias("fingerprint")).agg(
        F.min("doc_id").alias("keeper_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


# --------------------------------------------------------------------------
# Keyed dedup: keep the first document per (lang, source) bucket.
# --------------------------------------------------------------------------
@query(
    "q_dedup_by_key",
    oracle="""
SELECT lang, source, doc_id, n_chars
FROM (SELECT lang, source, doc_id, n_chars,
        ROW_NUMBER() OVER (PARTITION BY lang, source ORDER BY doc_id) AS rn
      FROM documents)
WHERE rn = 1
""",
)
def q_dedup_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Round-15 (guide §2.3): keep-lowest-doc_id per key is an argmin —
    # min(struct(doc_id, n_chars)) as a hash aggregate with map-side
    # partials replaces the ROW_NUMBER window, whose exchange carried
    # and then sorted EVERY document row. doc_id is unique, so the
    # struct min is exactly the rn=1 row. Identical rows.
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang", "source")
        .agg(F.min(F.struct("doc_id", "n_chars")).alias("_r"))
        .select(
            "lang",
            "source",
            F.col("_r.doc_id").alias("doc_id"),
            F.col("_r.n_chars").alias("n_chars"),
        )
    )


# --------------------------------------------------------------------------
# MinHash signatures: word 2-gram shingles, 8 salted-md5 "permutations".
# sig_i(doc) = min over distinct shingles of md5('<i>|' || shingle).
# (2-grams, not unigrams: the synthetic corpus shares a tiny vocabulary, so
# unigram sets are degenerate — nearly all docs collide into one bucket.)
# --------------------------------------------------------------------------
def _minhash_sig_sql() -> str:
    sigs = ",\n  ".join(
        f"MIN(md5(concat('{i}|', shingle))) AS sig_{i}"
        for i in range(N_HASHES)
    )
    return f"""
WITH tokens AS (
  SELECT DISTINCT doc_id,
    unnest(list_transform(
      range(1, len(string_split(text, ' '))),
      j -> concat(string_split(text, ' ')[j], ' ',
                  string_split(text, ' ')[j + 1]))) AS shingle
  FROM documents)
SELECT doc_id,
  {sigs}
FROM tokens
GROUP BY doc_id
"""


def _minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _minhash_signatures_from(load_table(spark, sf_dir, "documents"))


def _minhash_signatures_from(docs: DataFrame) -> DataFrame:
    # The per-doc hashing below is CPU-bound; make sure it fans out.
    docs = _fan_out_small_scan(docs)
    words = F.split("text", " ")
    # Linear-time 2-gram build (round 14): zip_with over two aligned
    # slices — the transform/element_at form re-split the text once
    # per shingle (see _helpers.adjacent_grams). Identical strings in
    # identical order.
    shingle_list = adjacent_grams(words, 2)

    # Row-local MIN: sig_i = array_min(transform(shingles, md5(salt||s))).
    # MIN over the shingle multiset equals MIN over the set, so no
    # distinct is needed (the oracle keeps DISTINCT in its CTE — same
    # result by the same argument). Computing the minhash inside the row
    # instead of explode+groupBy removes the signature shuffle entirely:
    # at 100 TB the explode would multiply the corpus by ~shingle count
    # and shuffle it, while this plan is embarrassingly parallel per doc.
    # The closure factory matters: a `lambda s, i=i` would have two
    # parameters, and transform() passes (element, index) to two-arg
    # lambdas, silently replacing the salt with the array index.
    def salted_min(i: int):
        return F.array_min(
            F.transform(
                F.col("_shingles"),
                lambda s: F.md5(F.concat(F.lit(f"{i}|"), s)),
            )
        ).alias(f"sig_{i}")

    # Single-word/empty docs produce no 2-gram shingles: filter them out
    # BEFORE building the sequence — F.sequence(0, -1) yields a
    # descending [0, -1] and element_at then throws on out-of-range
    # indices (matches the oracle, where range(1, 1) is empty).
    return (
        docs.where(F.size(words) >= 2)
        .withColumn("_shingles", shingle_list)
        .select("doc_id", *[salted_min(i) for i in range(N_HASHES)])
    )


@query("q_minhash_signatures", oracle=_minhash_sig_sql())
def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _minhash_signatures(spark, sf_dir)


# --------------------------------------------------------------------------
# MinHash-LSH candidate pairs: band the signature (4 bands x 2 rows),
# bucket-join per band, dedupe pairs, estimate Jaccard from the full
# signature, threshold at 0.5.
# --------------------------------------------------------------------------
def _lsh_pairs_sql(max_bucket: int | None = None) -> str:
    """Banded-LSH candidate-pair oracle; ``max_bucket`` inserts the
    degenerate-bucket guard (one builder for the capped and uncapped
    variants so the banding/estimator logic cannot diverge)."""
    sig_cte = _minhash_sig_sql().strip()
    band_selects = "\nUNION ALL\n".join(
        f"SELECT doc_id, {b} AS band, "
        f"md5(concat(sig_{2 * b}, sig_{2 * b + 1})) AS band_key FROM sigs"
        for b in range(N_BANDS)
    )
    # 60-bit-prefix equality — the exact predicate the Spark side
    # evaluates on packed longs (round 8; 2^-60 collision, identical
    # on both engines, and it keeps the estimator in whole-stage
    # codegen instead of an interpreted array fold).
    est = " + ".join(
        f"(CASE WHEN substring(a.sig_{i}, 1, 15)"
        f" = substring(b.sig_{i}, 1, 15) THEN 1 ELSE 0 END)"
        for i in range(N_HASHES)
    )
    kept_cte, side = "", "bands"
    if max_bucket is not None:
        kept_cte = f""",
kept AS MATERIALIZED (
  SELECT doc_id, band, band_key FROM (
    SELECT *, COUNT(*) OVER (PARTITION BY band, band_key) AS bsz
    FROM bands)
  WHERE bsz <= {max_bucket})"""
        side = "kept"
    # Every CTE here is multi-referenced (sigs: N_BANDS band selects +
    # the two estimator joins; bands/kept: both sides of the self-join)
    # and DuckDB 1.0 INLINES CTEs by default — without MATERIALIZED the
    # signature aggregation (300M doc x shingle rows at sf30) is
    # recomputed per reference and the plan spills past the box's disk
    # (round-10 sf30 sweep incident; same CLAUDE.md rule as the CC
    # round chains).
    return f"""
WITH sigs AS MATERIALIZED ({sig_cte}),
bands AS MATERIALIZED ({band_selects}){kept_cte},
cand AS MATERIALIZED (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM {side} x JOIN {side} y
    ON x.band = y.band AND x.band_key = y.band_key
   AND x.doc_id < y.doc_id)
SELECT doc_a, doc_b,
  CAST(({est}) AS DOUBLE) / {N_HASHES} AS est_jaccard
FROM cand
JOIN sigs a ON cand.doc_a = a.doc_id
JOIN sigs b ON cand.doc_b = b.doc_id
WHERE ({est}) >= {N_HASHES // 2}
"""


def _lsh_pairs_plan(
    spark: SparkSession, sf_dir: str, max_bucket: int | None = None
) -> DataFrame:
    """One Spark plan for both LSH-pair variants (``max_bucket`` adds
    the degenerate-bucket guard) — banding, match estimator, and
    threshold live in exactly one place, mirroring _lsh_pairs_sql.

    Round-8 restructure, the distinct-first shape the ORACLE always
    had: the bucket self-join carries ONLY (doc_id, band, band_key) —
    never signature payloads — and the match estimator runs AFTER the
    pair DISTINCT, against the signature relation joined back on
    doc_id. The previous shape (signatures riding the band rows as an
    array column, match count as a zip_with fold in the join output)
    let Catalyst push the ``m >= N/2`` filter into the join condition,
    so the interpreted (non-codegen) fold ran once per BUCKET-PROBE
    pair — sum of bucket^2, 484M evaluations at sf10 — and the
    non-codegen eval path is JVM-bimodal (109-669 s for identical
    runs, faaaf6a:SCALE_r08.json). Now the estimator is eight packed-long
    equality comparisons (pure whole-stage codegen, no arrays), runs
    once per DISTINCT pair (3.87M at sf10 uncapped — 125x fewer), and
    the band shuffle carries ~10x fewer bytes. The sig joins are two
    extra co-partitioned exchanges of the (packed, 8x8-byte) signature
    relation — the right trade at any scale.

    Signatures are packed to the first 60 bits of each md5 (exact
    prefix of the hex the oracle compares with ``substring(.., 1,
    15)`` — identical predicate, 2^-60 collision, same on both
    engines).

    Cache at the SIGNATURE boundary, not the band boundary: projection
    collapsing would otherwise inline the (interpreted, non-codegen)
    minhash lambda chain into the packed columns AND all four band
    keys — ~16 evaluations of the transform per row. Caching sigs
    makes every downstream reference a plain column read; the band
    rows derived from it are cheap (4 md5s of short strings) on each
    join side."""
    sigs = track_persist(_minhash_signatures(spark, sf_dir))
    band_keys = F.array(
        *[
            F.md5(F.concat(F.col(f"sig_{2 * b}"), F.col(f"sig_{2 * b + 1}")))
            for b in range(N_BANDS)
        ]
    )
    # One posexplode pass (a 4-way union would recompute the signature
    # lineage per branch).
    bands = sigs.select(
        "doc_id",
        F.posexplode(band_keys).alias("band", "band_key"),
    )
    if max_bucket is not None:
        # Bucket-size window over the SAME key the join shuffles on —
        # the guard adds no extra exchange on either side.
        w = Window.partitionBy("band", "band_key")
        bands = (
            bands.withColumn("bsz", F.count(F.lit(1)).over(w))
            .where(F.col("bsz") <= max_bucket)
            .drop("bsz")
        )
    # Pin the self-join to sort-merge (round 8): both sides are the
    # SAME corpus-scale band relation, so a broadcast is never the
    # right physical pick — but the static planner estimates the
    # not-yet-materialized cached-sigs subtree as tiny and chooses
    # BroadcastHashJoin, and whether AQE demotes it at runtime races
    # the cache-stage statistics (measured at sf10: demoted -> ~60 s;
    # kept -> ~600 s building a 984 MiB broadcast and probing it with
    # the interpreted zip_with match predicate; three slow + three
    # fast runs on identical code/data before the hint). The explicit
    # hint survives AQE re-optimization, making the plan deterministic
    # at every SF — and is the only correct choice at 100 TB.
    x = bands.alias("x").hint("merge")
    y = bands.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.band_key") == F.col("y.band_key"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
        )
        .distinct()
    )

    def packed(side: str) -> DataFrame:
        # 60-bit md5 prefixes as longs: the oracle compares
        # substring(sig, 1, 15) — bit-for-bit the same predicate.
        return sigs.select(
            F.col("doc_id").alias(f"doc_{side}"),
            *[
                F.conv(F.substring(f"sig_{i}", 1, 15), 16, 10)
                .cast("long")
                .alias(f"{side}p_{i}")
                for i in range(N_HASHES)
            ],
        ).hint("merge")

    m = sum(
        F.when(F.col(f"ap_{i}") == F.col(f"bp_{i}"), 1).otherwise(0)
        for i in range(N_HASHES)
    )
    return (
        cand.join(packed("a"), "doc_a")
        .join(packed("b"), "doc_b")
        .withColumn("m", m)
        .where(F.col("m") >= N_HASHES // 2)
        .select(
            "doc_a",
            "doc_b",
            (F.col("m").cast("double") / N_HASHES).alias("est_jaccard"),
        )
    )


@query(
    "q_minhash_lsh_pairs",
    oracle=_lsh_pairs_sql(),
    # The deliberately-UNBOUNDED contrast exhibit: pair expansion is
    # sum-of-bucket^2 over degenerate band buckets (40k pairs at sf1 ->
    # 3.87M at sf10 -> ~35M+ at sf30). At sf30 the bands self-join
    # spilled >73 GB of scratch (the box's entire free disk) before any
    # result — twice, in round 10 — which is exactly the failure mode
    # the capped production row exists to avoid. The sweep skips this
    # row above sf10 BY POLICY (round-10 verdict, What's wrong #3);
    # q_minhash_lsh_pairs_capped is the production path at every SF.
    scale_infeasible_above_sf=10,
    scale_infeasible_reason=(
        "uncapped contrast exhibit: sum-of-bucket^2 pair expansion "
        "spills unboundedly above sf10 (>73 GB scratch at sf30, "
        "faaaf6a:SCALE_r10.json sf30_infeasible); production path is "
        "q_minhash_lsh_pairs_capped"
    ),
)
def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _lsh_pairs_plan(spark, sf_dir)


MAX_BUCKET = 20  # band buckets above this are degenerate, skip them


# --------------------------------------------------------------------------
# Dedup clustering: connected components over the CAPPED LSH candidate
# pairs — pairs become clusters, each keeping its min-doc_id
# representative. Capped since round 7: the round-7 sf10 sweep measured
# the uncapped pair lineage at 70x cost for 10x data (pair count grows
# with the square of bucket size — 40k pairs at sf1 -> 3.87M at sf10,
# 627 s), while the capped generator stayed at 2.2x (3.85 s). Clustering
# from capped candidates is the production semantics — a production
# near-dup pass never enumerates degenerate-bucket pairs — and the
# oracle computes its closure over the identical capped pair set.
# --------------------------------------------------------------------------
# Convergence measured on the round-8 corpus: 24 rounds at sf1, 28 at
# sf10 (capped-bucket graphs chain into long paths, so the chase step
# compresses slower than textbook doubling); 48 leaves ~2x margin over
# those round-8 figures and each round costs only V+E
# join rows. This is an ORACLE BUDGET, not engine state: the Spark side
# iterates to convergence, so a corpus whose components chain longer
# than the budget fails the hash VISIBLY with the oracle under-merged.
# If a hash mismatch shows oracle components split where Spark merged
# them, raise ORACLE_CC_ROUNDS (env) rather than suspecting the engine.
_CC_ROUNDS = int(os.environ.get("ORACLE_CC_ROUNDS", "48"))


def _members_cte() -> str:
    """CTE chain ending in ``members(vertex, component)`` — connected
    components over the capped LSH candidate pairs, shared by the
    cluster-stats and keep-canonical oracles.

    Round 8: the previous WITH RECURSIVE transitive closure
    (``reach(a, b)``) held k^2 rows per k-member component — fine at
    the sf0.01 driver gate, infeasible at sf10, which left the cluster
    queries rows-only at exactly the scale point that matters (r7
    verdict, What's missing #2). Replaced with iterative min-label
    propagation plus pointer doubling: each round does a neighbor-min
    (l' = min over edge neighbors of l) then a label-chase
    (l'' = min(l', l(l'))), so state stays ONE label per vertex
    (V + E join rows per round, never k^2) and convergence is
    near-logarithmic rounds (measured on the round-8 corpus: 24 at
    sf1, 28 at sf10 — ``_CC_ROUNDS`` = 48 for margin); a non-converged
    label would FAIL the hash against the engine (visible, never a
    silent pass). Same component definition as before: the minimum
    vertex id of the component.
    """
    pairs = _lsh_pairs_sql(max_bucket=MAX_BUCKET).strip()
    rounds = []
    prev = "l0"
    for r in range(1, _CC_ROUNDS + 1):
        rounds.append(
            f"""
n{r} AS MATERIALIZED (
  SELECT e.a AS v, MIN(LEAST(la.l, lb.l)) AS l
  FROM edges e JOIN {prev} la ON la.v = e.a
               JOIN {prev} lb ON lb.v = e.b
  GROUP BY e.a),
d{r} AS MATERIALIZED (
  SELECT x.v, LEAST(x.l, y.l) AS l
  FROM n{r} x JOIN n{r} y ON x.l = y.v)"""
        )
        prev = f"d{r}"
    return f"""
WITH pairs AS MATERIALIZED ({pairs}),
edges AS MATERIALIZED (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b AS a, doc_a AS b FROM pairs),
l0 AS MATERIALIZED (SELECT a AS v, LEAST(a, MIN(b)) AS l FROM edges GROUP BY a),{",".join(rounds)},
members AS (SELECT v AS vertex, l AS component FROM {prev})"""


def _cluster_sql() -> str:
    return (
        _members_cte()
        + """
SELECT component AS cluster_rep,
  COUNT(*) AS cluster_size,
  MIN(vertex) AS min_doc,
  MAX(vertex) AS max_doc
FROM members
GROUP BY component
"""
    )


@query("q_dedup_clusters", oracle=_cluster_sql())
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.components import connected_components

    pairs = _lsh_pairs_plan(spark, sf_dir, max_bucket=MAX_BUCKET)
    comps = connected_components(pairs, src="doc_a", dst="doc_b")
    return comps.groupBy(F.col("component").alias("cluster_rep")).agg(
        F.count(F.lit(1)).alias("cluster_size"),
        F.min("vertex").alias("min_doc"),
        F.max("vertex").alias("max_doc"),
    )


# --------------------------------------------------------------------------
# Keep-canonical: the actionable end of near-dedup — every document
# gets its cluster representative and a keep/drop verdict, keeping ONE
# copy per near-dup cluster (the longest text, ties to the smallest
# doc_id — the standard "best copy" heuristic) and every singleton.
# --------------------------------------------------------------------------
_CANONICAL_ORACLE = (
    _members_cte()
    + """,
canon AS (
  SELECT m.vertex AS doc_id, m.component,
    ROW_NUMBER() OVER (PARTITION BY m.component
                       ORDER BY d.n_chars DESC, m.vertex) AS rn
  FROM members m JOIN documents d ON m.vertex = d.doc_id)
SELECT d.doc_id,
  CAST(COALESCE(c.component, d.doc_id) AS BIGINT) AS cluster_rep,
  COALESCE(c.rn = 1, TRUE) AS keep
FROM documents d LEFT JOIN canon c ON d.doc_id = c.doc_id
"""
)


@query("q_dedup_keep_canonical", oracle=_CANONICAL_ORACLE)
def q_dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters -> one kept document each. Pairs come from the
    CAPPED banded LSH join (degenerate buckets skipped — see
    q_dedup_clusters for the measured 70x-vs-2.2x sf10 rationale),
    components from pointer-jumping label propagation,
    and the canonical pick is a per-component window over (n_chars
    DESC, doc_id) — cluster relations are tiny next to the corpus, so
    the final verdict join is a small-side join against documents.
    Singletons (no near-dup) keep themselves."""
    from ..operators.components import connected_components

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars"
    )
    pairs = _lsh_pairs_plan(spark, sf_dir, max_bucket=MAX_BUCKET)
    members = connected_components(pairs, src="doc_a", dst="doc_b")
    w = Window.partitionBy("component").orderBy(
        F.desc("n_chars"), F.asc("vertex")
    )
    canon = (
        members.join(docs, members.vertex == docs.doc_id)
        .select("vertex", "component", "n_chars")
        .withColumn("rn", F.row_number().over(w))
    )
    return (
        docs.join(canon, docs.doc_id == canon.vertex, "left")
        .select(
            "doc_id",
            F.coalesce("component", "doc_id").alias("cluster_rep"),
            F.coalesce(F.col("rn") == 1, F.lit(True)).alias("keep"),
        )
    )


# --------------------------------------------------------------------------
# SimHash: 16-bit signature from salted-md5 token hashes. Each bit's +/-1
# contribution is a portable CASE over one hex nibble of the token hash,
# so Spark (via F.expr) and DuckDB compute identical bits. The hash is
# computed ONCE per token into a column `h` that all 16 bit expressions
# reference — the naive inline form recomputed md5(word) inside every
# bit contribution (16 hashes/token, ~280M redundant digests at sf10;
# neither engine CSEs across aggregate expressions), found by the
# round-7 sf10 sweep.
# --------------------------------------------------------------------------
def _bit_contrib(b: int) -> str:
    pos = 1 + b // 4  # hex char within md5
    k = b % 4  # bit within the nibble
    whens = " ".join(
        f"WHEN '{c}' THEN {1 if (int(c, 16) >> k) & 1 else -1}"
        for c in "0123456789abcdef"
    )
    return f"(CASE substr(h, {pos}, 1) {whens} END)"


def _simhash_sql() -> str:
    sums = ",\n  ".join(
        f"SUM({_bit_contrib(b)}) AS s{b}" for b in range(16)
    )
    bits = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(16)
    )
    return f"""
WITH tokens AS (
  SELECT doc_id, md5(unnest(string_split(text, ' '))) AS h
  FROM documents),
sums AS (
  SELECT doc_id, {sums}
  FROM tokens GROUP BY doc_id)
SELECT doc_id, {bits} AS simhash
FROM sums
"""


@query("q_simhash", oracle=_simhash_sql())
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    tokens = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    )
    hashed = tokens.select("doc_id", F.md5("word").alias("h"))
    sums = hashed.groupBy("doc_id").agg(
        *[F.sum(F.expr(_bit_contrib(b))).alias(f"s{b}") for b in range(16)]
    )
    simhash = sum(
        F.when(F.col(f"s{b}") > 0, 1 << b).otherwise(0) for b in range(16)
    )
    return sums.select("doc_id", simhash.alias("simhash"))


# --------------------------------------------------------------------------
# Exact n-gram Jaccard near-dup pairs with (lang, source) blocking:
# inverted-index join on 2-gram shingles, then |A∩B| / (|A|+|B|-|A∩B|)
# over the RETAINED shingle universe. "Retained" = shingles whose
# document frequency within their block is <= NGRAM_MAX_DF — the
# stopword-shingle guard every production near-dup pipeline applies
# before an inverted-index join: a shingle shared by B documents emits
# B(B-1)/2 candidate rows, so one hot bigram ("of the") dominates the
# whole job; the guard bounds per-posting fan-out regardless of corpus
# size (the same degenerate-bucket cap as q_minhash_lsh_pairs_capped).
# Sizes and intersections both use the retained universe, so the
# reported jaccard is EXACT over it (self-consistent, not a biased
# estimate of the unfiltered value).
# --------------------------------------------------------------------------
NGRAM_MAX_DF = 20  # posting lists longer than this are stopword shingles


@query(
    "q_ngram_jaccard_pairs",
    oracle=f"""
WITH shingles0 AS MATERIALIZED (
  SELECT DISTINCT doc_id, lang, source,
    unnest(list_transform(
      range(1, len(string_split(text, ' '))),
      i -> concat(string_split(text, ' ')[i], ' ',
                  string_split(text, ' ')[i + 1]))) AS shingle
  FROM documents),
df AS MATERIALIZED (
  SELECT shingle, lang, source, COUNT(*) AS df
  FROM shingles0 GROUP BY shingle, lang, source),
shingles AS MATERIALIZED (
  SELECT s.* FROM shingles0 s
  JOIN df ON s.shingle = df.shingle AND s.lang = df.lang
    AND s.source = df.source
  WHERE df.df <= {NGRAM_MAX_DF}),
sizes AS MATERIALIZED (
  SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
  FROM shingles a
  JOIN shingles b ON a.shingle = b.shingle
    AND a.lang = b.lang AND a.source = b.source
    AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id)
SELECT doc_a, doc_b,
  round(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 8) AS jaccard
FROM common
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.10
""",
)
def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    # Shingles are built row-locally (array transform over the split
    # words), NOT via posexplode + window lead: the window formulation
    # shuffles and sorts the whole token stream just to pair adjacent
    # words that already sit next to each other inside the row.
    words = F.split("text", " ")
    # Linear-time 2-gram build (round 14, _helpers.adjacent_grams).
    shingle_list = adjacent_grams(words, 2)
    shingles = (
        docs.where(F.size(words) >= 2)
        .select(
            "doc_id",
            "lang",
            "source",
            F.explode(shingle_list).alias("shingle"),
        )
        .distinct()
    )
    # Pin an explicit-width exchange on the join key: the shingle rows
    # are small in BYTES but the inverted-index self-join below is a
    # high fan-out CPU stage, and AQE's size-based coalescing would
    # otherwise collapse it to a couple of tasks (same trap the fused
    # pyramid cascade disables coalescing for). A user repartition with
    # an explicit count is exempt from AQE coalescing, and the window
    # below plus both join sides reuse this one exchange.
    shingles = shingles.repartition(
        spark.sparkContext.defaultParallelism,
        "shingle",
        "lang",
        "source",
    )
    # Stopword-shingle guard: a document-frequency window over the SAME
    # key the self-join shuffles on (no extra exchange on either side).
    w_df = Window.partitionBy("shingle", "lang", "source")
    shingles = (
        shingles.withColumn("df", F.count(F.lit(1)).over(w_df))
        .where(F.col("df") <= NGRAM_MAX_DF)
        .drop("df")
    )
    # Round-14 (guide §5, §2.4): persist the filtered shingle relation —
    # it is referenced FOUR times (self-join sides a and b, and the two
    # size lookups via `sizes`), and without the cache the whole
    # scan -> explode -> distinct -> repartition -> window subtree ran
    # four times (faaaf6a:plans/r14/q_ngram_jaccard_pairs_before.txt operators
    # 1-12/13-24/31-42/49-60). The self-join is also pinned to
    # sort-merge like the LSH rows: the planner saw a "small" estimated
    # side and BROADCAST the corpus-scale shingle relation — wrong at
    # every SF above toy, and it defeated the shared exchange the
    # repartition above pins. Measured 2.79 s -> 0.68 s at sf0.1,
    # identical output. At 100 TB the cache is the post-cap shingle
    # relation (bounded fan-out, MEMORY_AND_DISK) replacing four full
    # shuffled recomputations of it — same trade the LSH signature
    # cache makes (round 8).
    shingles = track_persist(shingles)
    sizes = track_persist(
        shingles.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    )
    a = shingles.alias("a")
    b = shingles.alias("b").hint("merge")
    common = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("c").cast("double") / (
        F.col("sa.n") + F.col("sb.n") - F.col("c")
    )
    return (
        common.join(sa, common.doc_a == F.col("sa.doc_id"))
        .join(sb, common.doc_b == F.col("sb.doc_id"))
        .where(jac >= 0.10)
        .select("doc_a", "doc_b", F.round(jac, 8).alias("jaccard"))
    )


# --------------------------------------------------------------------------
# LSH pairs with a degenerate-bucket cap: production dedup pipelines drop
# band buckets larger than a threshold before the self-join ("stopword
# shingle" guard) — a bucket of B members emits B(B-1)/2 candidates, so
# one hot bucket can dominate the whole job. The cap bounds per-bucket
# fan-out at K(K-1)/2 regardless of corpus size, which is what makes the
# self-join's worst case linear in the number of buckets at 100 TB. The
# bucket count is a window over the SAME key the join shuffles on, so the
# guard adds no extra exchange on either side.
# --------------------------------------------------------------------------
@query(
    "q_minhash_lsh_pairs_capped",
    oracle=_lsh_pairs_sql(max_bucket=MAX_BUCKET),
)
def q_minhash_lsh_pairs_capped(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _lsh_pairs_plan(spark, sf_dir, max_bucket=MAX_BUCKET)
