"""Physical-plan regression tests: the optimizations the 100 TB design
relies on must be visible in the executed plan, not assumed."""

from contextlib import contextmanager

from pyspark.sql import functions as F

from aind_exaspim_data_transformation_spark.queries import QUERIES

from conftest import SF_SMALL


def _plan(spark, name: str) -> str:
    df = QUERIES[name](spark, SF_SMALL)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def _tree(plan: str) -> str:
    """The operator-tree section of a formatted plan (before the
    per-node details)."""
    return plan.split("\n\n")[0]


def test_q01_filter_pushdown_and_pruning(spark):
    plan = _plan(spark, "q01_pricing_summary")
    assert "PushedFilters" in plan
    assert "LessThanOrEqual(l_shipdate" in plan
    # column pruning: unused columns don't reach the scan
    assert "l_orderkey" not in plan.split("ReadSchema")[1].split("\n")[0]
    # partial + final hash aggregation (map-side combine), one shuffle
    tree = _tree(plan)
    assert tree.count("HashAggregate") == 2
    assert tree.count("Exchange") == 1


def test_q05_broadcasts_dimensions(spark):
    plan = _plan(spark, "q05_local_supplier_volume")
    assert "BroadcastHashJoin" in plan
    # region filter pushed into the scan
    assert "In(r_name, [ASIA,EUROPE])" in plan


def test_q03_take_ordered_topk(spark):
    plan = _plan(spark, "q03_shipping_priority")
    assert "TakeOrderedAndProject" in plan  # top-k, not global sort


def test_window_single_exchange(spark):
    plan = _plan(spark, "q_window_frames")
    # one exchange for the window partition, one sort, nothing more
    tree = _tree(plan)
    assert tree.count("Exchange") == 1
    assert tree.count("Sort") == 1


def test_semi_join_for_exists(spark):
    plan = _plan(spark, "q04_order_priority")
    assert "LeftSemi" in plan


def test_repartition_by_range_and_sort_within_partitions(spark):
    """Range partitioning + partition-local sort: the write-side layout
    pattern (cluster output files by key without a global sort)."""
    from aind_exaspim_data_transformation_spark.sources.tables import (
        load_table,
    )

    orders = load_table(spark, SF_SMALL, "orders")
    df = orders.repartitionByRange(8, "o_orderdate").sortWithinPartitions(
        "o_orderdate", "o_orderkey"
    )
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "rangepartitioning" in plan.lower()
    # the sort is partition-local (no second exchange after the range one)
    assert _tree(plan).count("Exchange") == 1
    # and rows really are range-clustered: per-partition max <= next min
    parts = df.select(
        F.spark_partition_id().alias("p"), "o_orderdate"
    ).groupBy("p").agg(
        F.min("o_orderdate").alias("lo"), F.max("o_orderdate").alias("hi")
    ).orderBy("p").collect()
    for a, b in zip(parts, parts[1:]):
        assert a["hi"] <= b["lo"]


@contextmanager
def _shuffle_join_regime(spark):
    """Both broadcast thresholds at -1 — the regime where fact tables
    have outgrown broadcast — restored afterwards. Yields a function
    that runs a query to its AQE-final plan and checks it against the
    query's DuckDB oracle: ``(plan, ok, msg)``."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    from parity import compare

    from aind_exaspim_data_transformation_spark.queries import ORACLES

    def run(name):
        df = QUERIES[name](spark, SF_SMALL)
        df.collect()  # AQE-final plan
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode
            .fromString("formatted")
        )
        ok, msg, _rows = compare(df, ORACLES[name], SF_SMALL)
        return plan, ok, msg

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
        )
    }
    try:
        for k in saved:
            spark.conf.set(k, "-1")
        yield run
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_sort_merge_transition_parity(spark):
    """At 100x the data, fact tables outgrow the broadcast threshold and
    AQE plans sort-merge joins instead. Simulate that regime (thresholds
    -1) and pin BOTH halves of the contract: un-hinted fact joins flip
    to SortMergeJoin while explicitly-hinted dimensions stay broadcast,
    and the results still hash-match the DuckDB oracle — correctness is
    join-strategy-independent."""
    with _shuffle_join_regime(spark) as run:
        for name in ("q05_local_supplier_volume", "q10_returned_items"):
            plan, ok, msg = run(name)
            assert "SortMergeJoin" in plan, name
            assert "BroadcastHashJoin" in plan, name  # hinted dims hold
            assert ok, f"{name} under SMJ: {msg}"


def test_range_frame_sort_merge_fallback_parity(spark):
    """q_window_range_frame's join carries no broadcast hint, so with
    broadcast off it runs as a SortMergeJoin — and must still
    hash-match its oracle."""
    with _shuffle_join_regime(spark) as run:
        plan, ok, msg = run("q_window_range_frame")
    assert "SortMergeJoin" in plan
    assert ok, f"q_window_range_frame under SMJ: {msg}"


def test_runtime_bloom_filter_join_pruning(spark):
    # Spark injects a runtime Bloom filter on the probe side of a
    # shuffle join when the build side is selectively filtered — at
    # cluster scale (probe scan >= the 10 GB default threshold) this
    # prunes most of the big side before the shuffle. The threshold is
    # floored here to trigger on test data; the assertion is that the
    # filter IS injected (bloom_filter_agg builds, might_contain
    # probes) and the join result is unchanged by the rewrite.
    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter"
            ".applicationSideScanSizeThreshold",
        )
    }
    li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet").where(
        "o_orderstatus = 'P'"
    )
    expected = sorted(
        map(
            tuple,
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderstatus")
            .count()
            .collect(),
        )
    )
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter"
            ".applicationSideScanSizeThreshold",
            "0",
        )
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderstatus")
            .count()
        )
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in plan
        assert "might_contain" in plan
        assert sorted(map(tuple, j.collect())) == expected
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_lsh_self_join_pinned_sort_merge(spark):
    """Round-8 regression guard: the bands self-join must stay
    SortMergeJoin. The static planner under-estimates the
    not-yet-materialized cached-signatures subtree and would plan a
    BroadcastHashJoin whose build side materializes at ~1 GiB at sf10
    (demoted by AQE only when the cache-stage statistics race is won —
    measured 60 s vs 600 s on identical runs). The merge hint makes
    the plan deterministic; a corpus-scale self-join must never
    broadcast."""
    for name in ("q_minhash_lsh_pairs", "q_minhash_lsh_pairs_capped"):
        tree = _tree(_plan(spark, name))
        assert "SortMergeJoin" in tree, name
        assert "BroadcastHashJoin" not in tree, name


def test_funnel_bounded_state_plan(spark):
    """Round-8 regression guard: the funnel must aggregate with
    min-only state (map-side partial combine), never per-user
    collect_list arrays (the r7 skew hazard), and each stage's
    event_type predicate must reach the parquet scan."""
    plan = _plan(spark, "q_events_funnel")
    assert "collect_list" not in plan
    assert "partial_min" in plan  # map-side combine of the staged mins
    assert "EqualTo(event_type,view)" in plan  # pushed stage filter


def test_training_pipeline_bpe32k_same_scan_shape(spark):
    # Round-12 verdict Next #4: swapping the packing counter to the 32k
    # heap encoder must not change the single-corpus-scan plan shape.
    # Plan strings repeat the cached survivor relation's child per
    # InMemoryTableScan, so compare COUNTS against the whitespace twin
    # rather than asserting an absolute number.
    base = _plan(spark, "q_docs_training_pipeline")
    bpe = _plan(spark, "q_docs_training_pipeline_bpe32k")
    assert bpe.count("Scan parquet") == base.count("Scan parquet")
    assert bpe.count("InMemoryTableScan") == base.count(
        "InMemoryTableScan"
    )
    # The encode UDF runs below the persist (inside the cached survivor
    # relation), so survivors are encoded once, not once per downstream
    # branch: every ArrowEvalPython occurrence is within an
    # InMemoryRelation child printout, none in the post-cache plan.
    post_cache = bpe.split("InMemoryRelation")[0]
    assert "ArrowEvalPython" in bpe
    assert "ArrowEvalPython" not in post_cache


def test_range_frame_no_single_partition_window(spark):
    # Round-15: the global RANGE window was the last single-task query
    # path; the bucket rewrite must keep every Window/Sort partitioned.
    plan = _plan(spark, "q_window_range_frame")
    assert "SinglePartition" not in plan
    assert "Window" in plan  # the running-count window, bucketed
    # and the bucket aggregate reuses the window's hash(tb) exchange:
    # exactly two shuffle exchanges (groupBy v, window tb) + broadcast.
    tree = _tree(plan)
    assert tree.count("Exchange") - tree.count("BroadcastExchange") == 2


def test_multimodal_fused_single_python_boundary(spark):
    # Round-15 (guide §4): build -> operator -> stats compose per batch
    # inside ONE mapInPandas; exactly one Python eval node per plan.
    for name in (
        "q_multimodal_frame_sample",
        "q_multimodal_image_features",
        "q_multimodal_audio_features",
    ):
        tree = _tree(_plan(spark, name))
        n_py = sum(
            tree.count(k)
            for k in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython")
        )
        assert n_py == 1, (name, tree)
