"""PySpark-native analytics & data-processing engine.

A from-scratch Spark DataFrame/SQL implementation of the capabilities of
AllenNeuralDynamics/aind-exaspim-data-transformation (reference studied at
/root/reference; see SURVEY.md for the structural analysis), plus a general
relational analytics surface and LLM-data-pipeline operators (dedup,
similarity search, multimodal columns, text analysis), all designed for
100 TB scale on a multi-executor cluster.

Layout:
- ``session``    SparkSession builder with scale-oriented defaults
- ``config``     job-settings model (port of reference models.py semantics)
- ``sources``    table loaders, Imaris-style tensor sources
- ``operators``  downsample kernel, dedup, similarity, text, multimodal
- ``zarrio``     pure-Python Zarr v3 sharded store writer + OME-NGFF metadata
- ``queries``    the declared query surface (drives __spark_entry__)
- ``streaming``  Structured Streaming ops over the events table
"""

__version__ = "0.1.0"


def run_query(spark, sf_dir: str, name: str, action=None):
    """Public entry point for running a registered query in a
    long-lived session: wraps the call in
    :func:`queries.lifecycle.managed_query`, so every intermediate the
    query persisted is unpersisted when the action completes (the
    oracle harness calls registry functions directly and manages its
    own session lifetime instead).

    ``action`` consumes the lazy result DataFrame inside the managed
    scope and its return value is passed through; the default collects.

    >>> rows = run_query(spark, sf_dir, "q01_pricing_summary")
    >>> n = run_query(spark, sf_dir, "q_dedup_exact",
    ...               action=lambda df: df.count())
    """
    from .queries.lifecycle import managed_query

    with managed_query(spark, sf_dir, name) as df:
        return df.collect() if action is None else action(df)
