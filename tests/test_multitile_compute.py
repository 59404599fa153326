"""Shard-mode multi-tile conversion with a COMPUTED pyramid (global
level-0 action + ONE store-routed downsample action per level)."""

import numpy as np
import pytest

from aind_exaspim_data_transformation_spark.config import ConvertJobSettings
from aind_exaspim_data_transformation_spark.operators.downsample import (
    downsample_block,
)
from aind_exaspim_data_transformation_spark.sources.tensor import (
    write_npy_pyramid,
)
from aind_exaspim_data_transformation_spark.zarrio.format import (
    read_array_region,
)
from aind_exaspim_data_transformation_spark.zarrio.multitile import (
    convert_tiles_to_zarr,
)


def test_shard_mode_computed_pyramid(spark, tmp_path):
    rng = np.random.default_rng(2)
    tiles, arrays = [], {}
    for i in range(2):
        arr = rng.integers(0, 65535, size=(50, 40, 30), dtype=np.uint16)
        src = str(tmp_path / f"tile{i}")
        write_npy_pyramid(src, arr, n_levels=1)
        tiles.append((src, str(tmp_path / f"store{i}.zarr")))
        arrays[src] = arr
    result = convert_tiles_to_zarr(
        spark,
        tiles,
        ConvertJobSettings(
            input_source="ignored",
            output_location="ignored",
            chunk_shape=(16, 16, 16),
            shard_shape=(16, 16, 16),
            translate_pyramid=False,
            downsample_levels=3,
            downsample_mode="mean",
        ),
    )
    # ONE action per level regardless of tile count: levels 1 and 2.
    assert len(result["downsample_stages"]) == 2
    assert [s["level"] for s in result["downsample_stages"]] == [1, 2]
    # Each level's single action covered both tiles' shards.
    assert all(s["n_shards"] >= 2 for s in result["downsample_stages"])
    for src, store in tiles:
        want1 = downsample_block(arrays[src], (2, 2, 2), "mean")
        got1 = read_array_region(
            store, 1,
            (slice(0, 1), slice(0, 1), slice(0, 25), slice(0, 20),
             slice(0, 15)),
        )[0, 0]
        np.testing.assert_array_equal(got1, want1)
        want2 = downsample_block(want1, (2, 2, 2), "mean")
        got2 = read_array_region(
            store, 2,
            (slice(0, 1), slice(0, 1), slice(0, 13), slice(0, 10),
             slice(0, 8)),
        )[0, 0]
        np.testing.assert_array_equal(got2, want2)


def test_spark_job_count_contracts(spark, tmp_path, monkeypatch):
    """Listener-counted contract for the 100-tile claim: 32 tiles with a
    3-level computed pyramid run as ONE Spark job through the fused
    cascade (job count independent of tile count AND depth); forced
    one-step passes (``CASCADE_MAX_GROUP_BYTES = 0``) run one job per
    pass (job count independent of tile count). AQE is disabled for the
    measurement so one action maps to one Spark job (AQE materializes
    shuffle stages as extra jobs; it changes scheduling, not the action
    count)."""
    import aind_exaspim_data_transformation_spark.zarrio.pipeline as pipeline

    sc = spark.sparkContext
    aqe_was = spark.conf.get("spark.sql.adaptive.enabled")
    rng = np.random.default_rng(11)

    def run(group, n_tiles, prefix):
        tiles = []
        for i in range(n_tiles):
            arr = rng.integers(
                0, 65535, size=(16, 16, 16), dtype=np.uint16
            )
            src = str(tmp_path / f"{prefix}_tile{i}")
            write_npy_pyramid(src, arr, n_levels=1)
            tiles.append((src, str(tmp_path / f"{prefix}_store{i}.zarr")))
        sc.setJobGroup(group, "count actions")
        try:
            result = convert_tiles_to_zarr(
                spark,
                tiles,
                ConvertJobSettings(
                    input_source="ignored",
                    output_location="ignored",
                    chunk_shape=(8, 8, 8),
                    shard_shape=(8, 8, 8),
                    translate_pyramid=False,
                    downsample_levels=3,
                    downsample_mode="mean",
                ),
            )
            return result, sc.statusTracker().getJobIdsForGroup(group)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        result, jobs = run("mt-cascade-count", 32, "jc")
        assert result["n_tiles"] == 32 and result["n_shards"] == 8 * 32
        assert len(result["downsample_stages"]) == 2
        assert len(jobs) == 1  # whole dataset, every level: ONE job

        monkeypatch.setattr(pipeline, "CASCADE_MAX_GROUP_BYTES", 0)
        result, jobs = run("mt-passes-count", 8, "jl")
        assert result["n_tiles"] == 8 and result["n_shards"] == 8 * 8
        assert len(result["downsample_stages"]) == 2
        assert result["pyramid_plan"] == "cascade_passes"
        assert len(jobs) == len(result["pyramid_passes"]) == 3 - 1
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe_was)


def test_downsample_stage_count_independent_of_tiles(spark, tmp_path):
    """Job-count contract: L-1 downsample stages whether 1 or 3 tiles."""
    rng = np.random.default_rng(7)
    settings = dict(
        input_source="ignored",
        output_location="ignored",
        chunk_shape=(8, 8, 8),
        shard_shape=(8, 8, 8),
        translate_pyramid=False,
        downsample_levels=2,
        downsample_mode="max",
    )
    stage_counts = {}
    for n_tiles in (1, 3):
        tiles = []
        for i in range(n_tiles):
            arr = rng.integers(0, 65535, size=(16, 16, 16), dtype=np.uint16)
            src = str(tmp_path / f"n{n_tiles}_tile{i}")
            write_npy_pyramid(src, arr, n_levels=1)
            tiles.append((src, str(tmp_path / f"n{n_tiles}_store{i}.zarr")))
        result = convert_tiles_to_zarr(
            spark, tiles, ConvertJobSettings(**settings)
        )
        stage_counts[n_tiles] = len(result["downsample_stages"])
        # every tile's level-1 store must still be complete
        assert result["downsample_stages"][0]["n_shards"] == n_tiles
    assert stage_counts[1] == stage_counts[3] == 1
