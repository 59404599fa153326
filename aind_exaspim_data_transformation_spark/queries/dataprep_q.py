"""Training-data assembly operators: temperature-based domain sampling
and fixed-length sequence packing over ``documents``.

The last two stages of an LLM data pipeline after filtering/dedup:
re-weight the domain mixture (temperature sampling a la multilingual
training, alpha=0.5) and pack the token stream into fixed-capacity
training examples. Both are deterministic — sampling uses an md5-derived
uniform per document (both engines agree on md5, so the kept set is
reproducible and oracle-checkable), packing is pure integer arithmetic.

Scale notes (100 TB):

- Temperature sampling is two tiny aggregates (domain counts, weight
  normalization over a sorted fold of ~dozens of domains) broadcast
  against a map-only keep/drop pass — the corpus is scanned once and
  never shuffled.
- Sequence packing avoids the single-partition global cumsum: token
  offsets accumulate per-source in parallel windows, and a second
  window over the per-source TOTALS (one row per source) supplies each
  source's global offset. The concatenation order (source, doc_id) is
  total, so example ids are stable under any partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table
from ._helpers import adjacent_grams, fan_out_small_scan, top_element_count
from .lifecycle import track_persist
from .registry import query

_SAMPLE_FRACTION = 0.5  # target kept fraction of the corpus
_SEQ_LEN = 512  # tokens per packed training example


def _uniform_sql(expr: str) -> str:
    return (
        f"CAST(CAST(('0x' || substring(md5({expr}), 1, 8)) AS UBIGINT)"
        " AS DOUBLE) / 4294967296.0"
    )


def _uniform_col(c) -> object:
    return (
        F.conv(F.substring(F.md5(c.cast("binary")), 1, 8), 16, 10).cast(
            "double"
        )
        / 4294967296.0
    )


# Domain derivation and temperature-mixture probabilities are shared by
# the standalone sampling query and the composite pipeline — single
# definition each, in both Spark and SQL form, so a threshold or
# fold-order change cannot silently diverge between the two.
_DOMAIN_SQL = (
    "'d' || CAST(CAST(substring(source, 4, 10) AS INTEGER) % 3"
    " AS VARCHAR)"
)


def _domain_col():
    return F.concat(
        F.lit("d"),
        (F.substring("source", 4, 10).cast("int") % 3).cast("string"),
    )


def _probs_sql(src_cte: str) -> str:
    """CTE chain deriving (domain, keep_prob) from ``src_cte(domain)``."""
    raw = f"(dw.w / norm.z) * ({_SAMPLE_FRACTION} * tot.n) / dw.n_d"
    return f"""dc AS (SELECT domain, COUNT(*) AS n_d FROM {src_cte} GROUP BY domain),
tot AS (SELECT CAST(SUM(n_d) AS BIGINT) AS n FROM dc),
dw AS (SELECT domain, n_d, sqrt(CAST(n_d AS DOUBLE) / tot.n) AS w
       FROM dc CROSS JOIN tot),
norm AS (SELECT list_sum(list(w ORDER BY domain)) AS z FROM dw),
probs AS (
  SELECT dw.domain,
    CASE WHEN {raw} > 1.0 THEN 1.0 ELSE {raw} END AS keep_prob
  FROM dw CROSS JOIN norm CROSS JOIN tot)"""


def _temperature_probs(domained: DataFrame) -> DataFrame:
    """(domain, keep_prob) for alpha=0.5 mixture re-weighting of any
    DataFrame carrying a ``domain`` column. The normalization folds a
    domain-sorted collect_list so the doubles are bit-deterministic.

    The per-domain count aggregate is materialized once as a local
    relation (the domain vocabulary is bounded — rows = #domains — at
    any corpus scale): left lazy, the dc/tot/dw/norm chain re-evaluated
    it per reference, putting 4 extra corpus scans in the final plan.
    All arithmetic stays in Spark expressions, so the doubles are
    unchanged."""
    spark = domained.sparkSession
    dc = domained.groupBy("domain").agg(F.count(F.lit(1)).alias("n_d"))
    dc = spark.createDataFrame(dc.collect(), dc.schema)
    tot = dc.agg(F.sum("n_d").alias("n"))
    dw = dc.crossJoin(F.broadcast(tot)).select(
        "domain",
        "n_d",
        "n",
        F.sqrt(F.col("n_d").cast("double") / F.col("n")).alias("w"),
    )
    # Bounded state: list length = |domain vocabulary| (3 here, and by
    # construction a small enum at any corpus scale) — round-8 skew audit.
    norm = dw.agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("domain", "w"))),
            F.lit(0.0),
            lambda acc, s: acc + s["w"],
        ).alias("z")
    )
    raw = (
        (F.col("w") / F.col("z"))
        * (F.lit(_SAMPLE_FRACTION) * F.col("n"))
        / F.col("n_d")
    )
    return dw.crossJoin(F.broadcast(norm)).select(
        "domain",
        F.when(raw > 1.0, F.lit(1.0)).otherwise(raw).alias("keep_prob"),
    )


_TEMP_ORACLE = f"""
WITH docs AS (
  SELECT doc_id, source, {_DOMAIN_SQL} AS domain
  FROM documents),
{_probs_sql("docs")}
SELECT d.doc_id, d.domain, p.keep_prob,
  {_uniform_sql("CAST(d.doc_id AS VARCHAR)")} AS u
FROM docs d JOIN probs p ON d.domain = p.domain
WHERE {_uniform_sql("CAST(d.doc_id AS VARCHAR)")} < p.keep_prob
"""


@query("q_docs_temperature_sample", oracle=_TEMP_ORACLE)
def q_docs_temperature_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Temperature-resampled corpus (alpha=0.5 over 3 synthetic domains
    derived from ``source``): target mixture p_d ~ sqrt(n_d/N)
    renormalized via a domain-sorted fold, per-doc keep probability
    min(1, p_d * target / n_d), kept set decided by an md5-uniform."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", _domain_col().alias("domain")
    )
    probs = _temperature_probs(docs)
    u = _uniform_col(F.col("doc_id").cast("string"))
    return (
        docs.join(F.broadcast(probs), "domain")
        .where(u < F.col("keep_prob"))
        .select("doc_id", "domain", "keep_prob", u.alias("u"))
    )


def pack_sequences(
    rows: DataFrame, counter: str, cols: list[str]
) -> DataFrame:
    """GPT-style packing arithmetic over ``rows`` (with ``source``,
    ``doc_id`` and a per-document token count ``counter``): concatenate
    the token stream in (source, doc_id) order, cut every ``_SEQ_LEN``
    tokens, and emit ``cols``, the counter, each document's global token
    offset and the example-id range it lands in.

    The running sum is per source (parallel windows); a second window
    over the per-source TOTALS (one row per source) supplies each
    source's global offset, so no window runs over the whole corpus on
    one partition. Pure integer arithmetic — exact at any scale."""
    w_src = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = rows.withColumn("cum_in_src", F.sum(counter).over(w_src))
    w_off = Window.orderBy("source").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    src_off = (
        rows.groupBy("source")
        .agg(F.sum(counter).alias("total"))
        .select(
            "source",
            (F.sum("total").over(w_off) - F.col("total")).alias("offset"),
        )
    )
    gstart = F.col("offset") + F.col("cum_in_src") - F.col(counter)
    gend = F.col("offset") + F.col("cum_in_src")
    return cum.join(F.broadcast(src_off), "source").select(
        *cols,
        counter,
        gstart.alias("global_start"),
        F.floor(gstart / _SEQ_LEN).alias("first_example"),
        F.floor((gend - 1) / _SEQ_LEN).alias("last_example"),
    )


def _pack_oracle(n_tokens_sql: str) -> str:
    """DuckDB twin of ``pack_sequences`` over ``documents``, counting
    each document's tokens with ``n_tokens_sql`` (whitespace words,
    256-merge BPE or the 32k fold)."""
    return f"""
WITH toks AS (
  SELECT doc_id, source, {n_tokens_sql} AS n_tokens
  FROM documents),
cum AS (
  SELECT doc_id, source, n_tokens,
    SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_in_src
  FROM toks),
src_tot AS (
  SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS total FROM toks
  GROUP BY source),
src_off AS (
  SELECT source,
    CAST(SUM(total) OVER (ORDER BY source
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - total
      AS BIGINT) AS offset
  FROM src_tot)
SELECT c.doc_id, c.source, c.n_tokens,
  CAST(o.offset + c.cum_in_src - c.n_tokens AS BIGINT) AS global_start,
  CAST((o.offset + c.cum_in_src - c.n_tokens) // {_SEQ_LEN} AS BIGINT)
    AS first_example,
  CAST((o.offset + c.cum_in_src - 1) // {_SEQ_LEN} AS BIGINT)
    AS last_example
FROM cum c JOIN src_off o ON c.source = o.source
"""


@query(
    "q_docs_pack_sequences",
    oracle=_pack_oracle("len(string_split(text, ' '))"),
)
def q_docs_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing: concatenate the whitespace-token
    stream in (source, doc_id) order and cut every ``_SEQ_LEN`` tokens;
    emit each document's global token offset and the example-id range it
    lands in. Pure integer window arithmetic — exact at any scale."""
    toks = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(F.split("text", " ")).alias("n_tokens"),
    )
    return pack_sequences(toks, "n_tokens", ["doc_id", "source"])


# --------------------------------------------------------------------------
# The full training-data assembly pipeline as ONE declarative plan:
# quality filter (Gopher repetition thresholds) -> exact dedup (md5,
# keep lowest doc_id) -> temperature resample (alpha=0.5 over domains,
# recomputed on the surviving set) -> sequence packing of the kept
# stream. Four pipeline stages in one lazy plan.
#
# Scale notes: stage order matters at 100 TB — the map-only filter runs
# first so every downstream shuffle (dedup window on the hash, sampling
# aggregates, packing windows) moves only surviving rows. The survivor
# set is CACHED right after dedup: five downstream branches (domain
# counts, normalization, sampling, cumsum, offsets) fan out from it, and
# without the cache Catalyst re-expands each branch to its own
# text-column scan + filter + dedup window (measured: 12 parquet scans
# of the corpus). Post-dedup rows carry only (doc_id, source, n_words,
# domain) — the text never enters the cache. The heaviest exchange is
# the dedup hash partition; packing is the pack_sequences step
# q_docs_pack_sequences runs.
# --------------------------------------------------------------------------
def _pipe_oracle(counted: str, counter: str, src: str) -> str:
    """DuckDB twin of ``build_training_pipeline``: the quality-filter
    signals, then ``counted`` (the CTEs from the filter to ``src``,
    which carries the text and the packing counter ``counter``), then
    dedup -> resample -> pack."""
    return f"""
WITH base AS (
  SELECT doc_id, source, text, string_split(text, ' ') AS ws,
         len(string_split(text, ' ')) AS n_words
  FROM documents),
sig AS (
  SELECT doc_id, source, text, n_words,
    CAST(list_max(list_transform(list_distinct(ws),
           w -> len(list_filter(ws, x -> x = w)))) AS DOUBLE) / n_words
      AS top_frac,
    1.0 - CAST(len(list_distinct(list_transform(range(1, n_words),
           i -> ws[i] || ' ' || ws[i + 1]))) AS DOUBLE)
          / (n_words - 1) AS dup2_frac
  FROM base WHERE n_words >= 10),
{counted},
deduped AS (
  SELECT doc_id, source, {counter} FROM (
    SELECT doc_id, source, {counter},
      ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM {src})
  WHERE rn = 1),
doms AS (
  SELECT doc_id, source, {counter}, {_DOMAIN_SQL} AS domain
  FROM deduped),
{_probs_sql("doms")},
sampled AS (
  SELECT d.doc_id, d.source, d.domain, d.{counter}
  FROM doms d JOIN probs p ON d.domain = p.domain
  WHERE {_uniform_sql("CAST(d.doc_id AS VARCHAR)")} < p.keep_prob),
cum AS (
  SELECT doc_id, source, domain, {counter},
    SUM({counter}) OVER (PARTITION BY source ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_in_src
  FROM sampled),
src_off AS (
  SELECT source,
    CAST(SUM(total) OVER (ORDER BY source
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - total
      AS BIGINT) AS offset
  FROM (SELECT source, CAST(SUM({counter}) AS BIGINT) AS total
        FROM sampled GROUP BY source))
SELECT c.doc_id, c.source, c.domain, c.{counter},
  CAST(o.offset + c.cum_in_src - c.{counter} AS BIGINT) AS global_start,
  CAST((o.offset + c.cum_in_src - c.{counter}) // {_SEQ_LEN} AS BIGINT)
    AS first_example,
  CAST((o.offset + c.cum_in_src - 1) // {_SEQ_LEN} AS BIGINT)
    AS last_example
FROM cum c JOIN src_off o ON c.source = o.source
"""


def build_training_pipeline(
    spark: SparkSession,
    sf_dir: str,
    pack_counter=None,
    counter_name: str = "n_words",
) -> DataFrame:
    """filter -> dedup -> resample -> pack as one lazy plan; the corpus
    text is read once and each stage's shuffle moves only survivors.

    ``pack_counter`` (optional ``fn(text Column) -> Column``) swaps the
    token counter the PACKING stage budgets by — default whitespace
    words, production form the 32k-BPE heap encoder
    (``q_docs_training_pipeline_bpe32k``). The quality filter always
    uses whitespace stats (Gopher thresholds are defined over words);
    the counter is evaluated in the same post-filter projection, so
    only filter survivors pay the encode and the corpus is still
    scanned exactly once (duplicate texts are encoded before dedup
    drops them — the alternative, a join back to the corpus for
    survivor text, would be a second full scan).

    The survivor cache cannot be unpersisted here (the returned
    DataFrame is lazy); long-lived sessions should run the query
    through ``lifecycle.managed_query``, which unpersists exactly this
    intermediate when the caller's scope exits."""
    docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    ws = F.split("text", " ")
    n = F.size(ws)
    top_frac = top_element_count(ws).cast("double") / n
    # Linear-time 2-gram build (round 14, _helpers.adjacent_grams): the
    # transform/element_at form re-split the text once per bigram.
    bigrams = adjacent_grams(ws, 2)
    dup2_frac = F.lit(1.0) - F.size(
        F.array_distinct(bigrams)
    ).cast("double") / (n - 1)
    filtered = (
        docs.select(
            "doc_id",
            "source",
            "text",
            n.alias("n_words"),
            top_frac.alias("top_frac"),
            dup2_frac.alias("dup2_frac"),
        )
        .where(F.col("n_words") >= 10)
        .where(
            (F.col("top_frac") <= 0.20) & (F.col("dup2_frac") <= 0.60)
        )
    )
    if pack_counter is not None:
        filtered = filtered.withColumn(
            counter_name, pack_counter(F.col("text"))
        )
    # Round-15 examined and KEPT as a window (measured rejection): the
    # min(struct(doc_id, ...)) hash-aggregate idiom that replaced the
    # q_text_langid / q_dedup_by_key argmin windows was measured here
    # and LOSES (~+8-10% in two 4-trial fresh-JVM ABBA runs, and in-JVM
    # noop mins 3.26 s vs 2.76 s) — md5(text) groups are ~unique in
    # this corpus, so map-side partial aggregation reduces nothing and
    # pays a per-partition hash-table build over every surviving row,
    # while the window's sort handles unique keys at the same shuffle
    # volume. The idiom wins only where groups actually collapse
    # (langid votes, (lang, source) buckets).
    w_dedup = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    deduped = (
        filtered.withColumn("rn", F.row_number().over(w_dedup))
        .where(F.col("rn") == 1)
        .select(
            "doc_id",
            "source",
            counter_name,
            _domain_col().alias("domain"),
        )
    )
    deduped = track_persist(deduped)
    probs = _temperature_probs(deduped)
    u = _uniform_col(F.col("doc_id").cast("string"))
    sampled = (
        deduped.join(F.broadcast(probs), "domain")
        .where(u < F.col("keep_prob"))
        .select("doc_id", "source", "domain", counter_name)
    )
    return pack_sequences(
        sampled, counter_name, ["doc_id", "source", "domain"]
    )


@query(
    "q_docs_training_pipeline",
    oracle=_pipe_oracle(
        """filtered AS (
  SELECT doc_id, source, text, n_words FROM sig
  WHERE top_frac <= 0.20 AND dup2_frac <= 0.60)""",
        "n_words",
        "filtered",
    ),
)
def q_docs_training_pipeline(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The composite pipeline packing by whitespace word counts (the
    cheap-counter form; the production-tokenizer twin is
    ``q_docs_training_pipeline_bpe32k`` in ``bpe32k_q.py``)."""
    return build_training_pipeline(spark, sf_dir)


# --------------------------------------------------------------------------
# Stratified exact-n sampling: exactly min(K, |stratum|) docs per lang,
# chosen by deterministic md5 rank — the reproducible "n examples per
# class" sampler (reservoir sampling's exact-size guarantee without its
# order dependence). One window over the stratum key; no driver state.
# --------------------------------------------------------------------------
_STRAT_K = 20

_STRAT_ORACLE = f"""
SELECT doc_id, lang, CAST(rn AS BIGINT) AS rn
FROM (
  SELECT doc_id, lang,
    ROW_NUMBER() OVER (PARTITION BY lang
      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
  FROM documents)
WHERE rn <= {_STRAT_K}
"""


@query("q_docs_stratified_sample", oracle=_STRAT_ORACLE)
def q_docs_stratified_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.asc("doc_id")
    )
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _STRAT_K)
        .select("doc_id", "lang", F.col("rn").cast("long").alias("rn"))
    )
