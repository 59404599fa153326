"""Production-vocabulary (32k-merge) BPE queries — round-11 verdict,
Next #1: the gap between "has a BPE operator" and "could tokenize a
real corpus" is the encode algorithm at a production vocabulary. The
256-merge queries in ``bpe_q.py`` encode by one replace pass per merge
(O(vocab x corpus) — fine at 256, wrong at 32k); these queries encode
with the linear-time heap merger in ``functions/bpe32k.py`` (O(n log n)
per doc, vocabulary-size-independent) against the pinned 32,768-merge
table in ``functions/bpe_vocab_32k.py``.

Oracle surface (three queries, per the round-11 plan — DuckDB cannot
run the heap algorithm, so the exactness evidence is split so that
every scale point keeps an exact check):

- ``q_text_bpe32k_tokens``: per-doc token counts under the FULL 32k
  vocabulary; oracle = the exact rank-order replace fold over all
  32,768 merges (``sql_token_count32k``). The fold is
  O(vocab x corpus) — exact and affordable at the sf0.01 driver gate
  (~10 s), quadratic-in-vocab at sweep scale, so the sweep times it
  rows-only (``ORACLE_INFEASIBLE_AT_SCALE`` in tools/scale_sweep.py,
  re-opened deliberately for this one row: the asymmetry between the
  linear-time engine and the quadratic oracle is the point of the
  query).
- ``q_text_bpe32k_roundtrip``: the engine encodes with the full
  vocabulary, expands every token back (``detokenize_mapped``), and
  hashes the reconstruction; oracle = ``md5(text)``. Exact and CHEAP
  at any SF — the sweep's standing check on the full 32k expansion
  table.
- ``q_text_bpe32k_prefix512``: token counts under the first 512 ranks
  only, where the fold oracle stays sweep-feasible (the 256-merge
  fold oracle hash-passed at sf30): a cross-engine proof on the real
  corpus that the heap encoder computes the replace-chain semantics.

``tests/test_bpe32k.py`` adds the naive-reference equality properties
(heap == iterative lowest-rank-first == rank-order replace chain) and
pins the incremental trainer against the naive trainer.

Scale: all three are map-only pandas UDFs over the text column; the
merges table rides along as a ~200 KB closure constant; the scan
routes through ``fan_out_small_scan`` because the per-row work is
CPU-bound (~0.3 ms/doc) and the documents table ships as few row
groups at bench SF (no-op at real scale).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.bpe32k import (
    apply_merges,
    detokenize_mapped,
    sql_token_count32k,
    token_count_series,
)
from ..sources.tables import load_table
from ._helpers import fan_out_small_scan
from .dataprep_q import (
    _pack_oracle,
    _pipe_oracle,
    build_training_pipeline,
    pack_sequences,
)
from .registry import query

_PREFIX_RANKS = 512


def _count32k_udf():
    """Per-document token count under the full 32k vocabulary (heap
    encoder) as a pandas UDF — the counter every 32k query shares."""

    @F.pandas_udf("long")
    def n_tokens32k(texts: pd.Series) -> pd.Series:
        return token_count_series(texts).astype("int64")

    return n_tokens32k


_TOKENS32K_ORACLE = f"""
SELECT doc_id,
  CAST(length(text) AS BIGINT) AS n_chars,
  CAST({sql_token_count32k('text')} AS BIGINT) AS n_tokens
FROM documents
"""


@query("q_text_bpe32k_tokens", oracle=_TOKENS32K_ORACLE)
def q_text_bpe32k_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token count under the full 32,768-merge vocabulary
    (heap encoder) vs raw character length — the doc-by-doc
    compression a production tokenizer achieves."""
    docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        _count32k_udf()(F.col("text")).alias("n_tokens"),
    )


_ROUNDTRIP_ORACLE = """
SELECT doc_id,
  CAST(length(text) AS BIGINT) AS n_chars,
  md5(text) AS detok_md5
FROM documents
"""


@query("q_text_bpe32k_roundtrip", oracle=_ROUNDTRIP_ORACLE)
def q_text_bpe32k_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detokenize-identity check at full vocabulary: encode with all
    32k merges, expand every token back through the de-map, hash the
    reconstruction. The oracle hashes the original text — any encoder
    or expansion-table defect that loses or reorders a single byte
    mismatches. This is the sf10-feasible exactness check on the 32k
    path (the full fold oracle above is driver-gate-only)."""

    @F.pandas_udf("string")
    def detok(texts: pd.Series) -> pd.Series:
        return texts.map(lambda t: detokenize_mapped(apply_merges(t)))

    docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        F.md5(detok(F.col("text")).cast("binary")).alias("detok_md5"),
    )


def _prefix_oracle() -> str:
    return (
        "SELECT doc_id,\n"
        f"  CAST({sql_token_count32k('text', _PREFIX_RANKS)} AS BIGINT)"
        " AS n_tokens_p512\nFROM documents"
    )


@query("q_text_bpe32k_prefix512", oracle=_prefix_oracle())
def q_text_bpe32k_prefix512(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counts under only the first 512 ranks of the 32k table —
    small enough that the exact replace-fold oracle runs at sweep SF,
    so the heap encoder has a standing cross-engine equivalence proof
    on the real corpus at every scale point."""

    @F.pandas_udf("long")
    def n_tokens_p512(texts: pd.Series) -> pd.Series:
        return token_count_series(texts, _PREFIX_RANKS).astype("int64")

    docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        n_tokens_p512(F.col("text")).alias("n_tokens_p512"),
    )


# The packing oracle's token counter is the exact 32k fold: O(vocab x
# corpus), driver-gate SF only (tagged with the tokens query in
# ORACLE_INFEASIBLE_AT_SCALE).
@query(
    "q_docs_pack_sequences_bpe32k",
    oracle=_pack_oracle(f"CAST({sql_token_count32k('text')} AS BIGINT)"),
)
def q_docs_pack_sequences_bpe32k(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """GPT-style sequence packing by PRODUCTION-vocabulary token counts
    — the form a real pipeline runs (pack budgets move a lot between a
    256-merge and a 32k-merge tokenizer: ~2.4 vs ~7.2 chars/token on
    this corpus). The same ``pack_sequences`` step as
    ``q_docs_pack_sequences_bpe`` (per-source parallel cumsum + offset
    window, text never shuffles); only the counter changed to the heap
    encoder."""
    toks = fan_out_small_scan(
        load_table(spark, sf_dir, "documents")
    ).select(
        "doc_id", "source", _count32k_udf()(F.col("text")).alias("n_tokens")
    )
    return pack_sequences(toks, "n_tokens", ["doc_id", "source"])


# The composite-pipeline oracle with the packing counter swapped for the
# exact 32k replace fold: O(vocab x corpus) like the tokens oracle,
# driver-gate SF only (tagged in ORACLE_INFEASIBLE_AT_SCALE). The filter,
# dedup, sampling and packing CTEs are q_docs_training_pipeline's
# (one builder, _pipe_oracle), so the two pipelines differ only in the
# counter.
@query(
    "q_docs_training_pipeline_bpe32k",
    oracle=_pipe_oracle(
        f"""filtered AS (
  SELECT doc_id, source, text FROM sig
  WHERE top_frac <= 0.20 AND dup2_frac <= 0.60),
toked AS (
  SELECT doc_id, source, text,
    CAST({sql_token_count32k('text')} AS BIGINT) AS n_tokens
  FROM filtered)""",
        "n_tokens",
        "toked",
    ),
)
def q_docs_training_pipeline_bpe32k(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The flagship end-to-end path in PRODUCTION form (round-12
    verdict, Next #4): filter -> exact dedup -> temperature resample ->
    sequence packing, with the packing stage budgeting by the 32k-merge
    heap encoder instead of whitespace words. Same single-corpus-scan
    plan as ``q_docs_training_pipeline`` (the counter is one extra
    pandas-UDF column in the post-filter projection; only filter
    survivors pay the encode, the survivor cache still carries no
    text)."""
    return build_training_pipeline(
        spark,
        sf_dir,
        pack_counter=_count32k_udf(),
        counter_name="n_tokens",
    )
