"""Driver-partitioned conversion input: the driver puts whole superchunk
groups into Spark partitions (``multitile.assign_groups``) and feeds each
writer task its groups (``multitile._run_pass``), so no Spark job
only moves rows the driver already holds."""

import random
import uuid
from types import SimpleNamespace

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import Window
from pyspark.sql import functions as F

from aind_exaspim_data_transformation_spark.config import ConvertJobSettings
from aind_exaspim_data_transformation_spark.sources.tensor import (
    write_npy_pyramid,
)
from aind_exaspim_data_transformation_spark.zarrio.multitile import (
    _PartitionFeed,
    _task_rows,
    _voxels,
    assign_groups,
    build_global_tasks,
    convert_tiles_to_zarr,
)
from aind_exaspim_data_transformation_spark.zarrio.pipeline import (
    convert_to_zarr,
)


def _plan(seed: int) -> list[tuple]:
    """TASK_SCHEMA rows of a few random tiles: edge-clamped grids, mixed
    superchunk multiples, so group sizes differ."""
    rng = random.Random(seed)
    rows = []
    for t in range(rng.randint(1, 4)):
        shape = tuple(rng.randint(1, 90) for _ in range(3))
        block = tuple(rng.randint(4, 32) for _ in range(3))
        key_m = tuple(rng.randint(1, 3) for _ in range(3))
        rows += _task_rows(f"tile{t}", f"store{t}", 0, shape, block, key_m)
    return rows


@pytest.mark.parametrize("seed", range(20))
@pytest.mark.parametrize("n_parts", [1, 3, 8, 64])
def test_assignment_properties(seed, n_parts):
    rows = _plan(seed)
    parts = assign_groups(rows, n_parts)
    assert len(parts) == n_parts

    # Every row exactly once.
    flat = [r for p in parts for g in p for r in g]
    assert sorted(flat) == sorted(rows)

    # Each group is one superchunk key, and no key is split across
    # groups or partitions.
    home = {}
    for i, p in enumerate(parts):
        for j, g in enumerate(p):
            for r in g:
                assert home.setdefault(r[12], (i, j)) == (i, j)

    # Same input, same assignment.
    assert assign_groups(list(rows), n_parts) == parts

    # Max load <= mean load + largest group.
    groups = {}
    for r in rows:
        groups.setdefault(r[12], []).append(r)
    loads = [sum(_voxels(g) for g in p) for p in parts]
    largest = max(_voxels(g) for g in groups.values())
    assert max(loads) <= sum(loads) / n_parts + largest


def test_fewer_groups_than_partitions_leaves_empty_ones():
    rows = _task_rows("t", "s", 0, (64, 64, 64), (32, 32, 32), (2, 2, 2))
    parts = assign_groups(rows, 4)  # one group of 8 rows
    assert sorted(len(p) for p in parts) == [0, 0, 0, 1]
    assert [len(g) for p in parts for g in p] == [8]

    calls = []

    def writer(groups):
        calls.append(groups)
        yield pd.DataFrame({"n": [sum(len(g) for g in groups)]})

    feed = _PartitionFeed(SimpleNamespace(value=parts), writer)
    for p, rows_p in enumerate(parts):
        out = list(feed(iter([pd.DataFrame({"id": [p]})])))
        if not rows_p:
            assert out == []
        else:
            assert out[0]["n"].tolist() == [8]
    # The writer ran once, on the one non-empty partition, and got its
    # one group of exactly its rows.
    assert len(calls) == 1
    (group,) = calls[0]
    assert sorted(group) == sorted(rows)


def _settings(**kw):
    return ConvertJobSettings(
        input_source="ignored",
        output_location="ignored",
        chunk_shape=(16, 16, 16),
        shard_shape=(16, 16, 16),
        **kw,
    )


@pytest.fixture(scope="module")
def two_tiles(tmp_path_factory):
    tmp = tmp_path_factory.mktemp("driver_parts")
    rng = np.random.default_rng(5)
    tiles = []
    for i in range(2):
        arr = rng.integers(0, 65535, size=(64, 48, 40), dtype=np.uint16)
        src = str(tmp / f"tile{i}")
        write_npy_pyramid(src, arr, n_levels=1)
        tiles.append((src, str(tmp / f"store{i}.zarr")))
    return tiles


@pytest.mark.parametrize("n", [1, 2, 3, 5])
def test_partition_subset_matches_window_subset(spark, two_tiles, n):
    """The driver-side subset (sort by tile_path, level, iz, iy, ix, then
    every n-th row) picks the same rows as a row_number Window over the
    same order would."""
    settings = _settings(translate_pyramid=True)
    tasks, _, _ = build_global_tasks(spark, two_tiles, settings)
    w = Window.orderBy("tile_path", "level", "iz", "iy", "ix")
    numbered = tasks.withColumn("__rn", F.row_number().over(w) - 1)
    rows = [tuple(r) for r in tasks.collect()]
    for p in range(n):
        want = {
            tuple(r)
            for r in numbered.where(F.col("__rn") % n == p)
            .drop("__rn")
            .collect()
        }
        got = set(
            sorted(rows, key=lambda r: (r[0], *r[2:6]))[p::n]
        )
        assert got == want


def _jobs_of(spark, fn) -> int:
    """Spark jobs ``fn`` ran, counted under its own job group."""
    sc = spark.sparkContext
    group = f"jobcount-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_conversion_job_counts(spark, two_tiles, tmp_path):
    """Writer input needs no Spark job: a two-tile fused cascade runs the
    writer stage, the assembler stage and the stats result (3 jobs),
    under on_corrupt="quarantine" too; a translate run, two-tile or a
    single-tile Zarr v2 copy, the writer stage and the stats result
    (2 jobs)."""
    cascade = [(src, str(tmp_path / f"c{i}.zarr")) for i, (src, _) in
               enumerate(two_tiles)]
    res = {}
    n = _jobs_of(
        spark,
        lambda: res.update(
            convert_tiles_to_zarr(
                spark, cascade,
                _settings(translate_pyramid=False, downsample_levels=3),
            )
        ),
    )
    assert res["pyramid_plan"] == "fused_cascade"
    assert n == 3

    quarantine = [(src, str(tmp_path / f"q{i}.zarr")) for i, (src, _) in
                  enumerate(two_tiles)]
    res = {}
    n = _jobs_of(
        spark,
        lambda: res.update(
            convert_tiles_to_zarr(
                spark, quarantine,
                _settings(translate_pyramid=False, downsample_levels=3,
                          on_corrupt="quarantine"),
            )
        ),
    )
    assert res["pyramid_plan"] == "fused_cascade" and res["n_errors"] == 0
    assert n == 3

    translate = [(src, str(tmp_path / f"t{i}.zarr")) for i, (src, _) in
                 enumerate(two_tiles)]
    n = _jobs_of(
        spark,
        lambda: convert_tiles_to_zarr(
            spark, translate, _settings(translate_pyramid=True)
        ),
    )
    assert n == 2

    res = {}
    n = _jobs_of(
        spark,
        lambda: res.update(
            convert_to_zarr(
                spark,
                _settings(translate_pyramid=True).model_copy(
                    update={
                        "input_source": two_tiles[0][0],
                        "output_location": str(tmp_path / "v2.zarr"),
                    }
                ),
                zarr_format=2,
            )
        ),
    )
    # One v2 chunk per task row: 64x48x40 over 16^3 chunks.
    assert res["stages"][0]["n_shards"] == 4 * 3 * 3
    assert n == 2
