"""Driver-partitioned conversion input: the driver cuts one order of
whole superchunk groups into voxel-balanced ranges
(``multitile.unit_offsets`` + ``multitile.cut``) and each writer task
expands only its own range (``multitile.iter_units``), so no Spark job
only moves data the driver holds and the plan it ships is a few kB. A
translate unit is one group."""

import pickle
import random
import uuid
from types import SimpleNamespace

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from aind_exaspim_data_transformation_spark.config import ConvertJobSettings
from aind_exaspim_data_transformation_spark.sources.tensor import (
    SourceMeta,
    write_npy_pyramid,
)
from aind_exaspim_data_transformation_spark.zarrio import multitile
from aind_exaspim_data_transformation_spark.zarrio.format import (
    grid_cells,
    shard_grid,
)
from aind_exaspim_data_transformation_spark.zarrio.multitile import (
    Grid,
    _PartitionFeed,
    build_global_tasks,
    convert_tiles_to_zarr,
    cut,
    iter_units,
    unit_offsets,
)
from aind_exaspim_data_transformation_spark.zarrio.pipeline import (
    convert_to_zarr,
)


def _plan(seed: int) -> list[Grid]:
    """Grids of a few random tiles: edge-clamped grids, mixed superchunk
    multiples, so group sizes differ."""
    rng = random.Random(seed)
    grids = []
    for t in range(rng.randint(1, 4)):
        shape = tuple(rng.randint(1, 90) for _ in range(3))
        block = tuple(rng.randint(4, 32) for _ in range(3))
        key_m = tuple(rng.randint(1, 3) for _ in range(3))
        group = tuple(m * b for m, b in zip(key_m, block))
        grids.append(
            Grid(f"tile{t}", f"store{t}", 0, shape, block, group, group, ())
        )
    return grids


def _shards(group, block) -> list[tuple]:
    """A group's shards as ``(tile_path, level, iz, iy, ix, z0, z1, y0,
    y1, x0, x1)``, the writer's ``grid_cells`` walk over its box."""
    grid, box = group
    return [
        (grid.tile_path, grid.level, *idx,
         *(v for o, s in zip(box[0::2], outer)
           for v in (o + s.start, o + s.stop)))
        for idx, _, outer in grid_cells(box[0::2], box[1::2], block)
    ]


@pytest.mark.parametrize("seed", range(20))
@pytest.mark.parametrize("n_parts", [1, 3, 8, 64])
def test_assignment_properties(seed, n_parts):
    grids = _plan(seed)
    block = {g.tile_path: g.block for g in grids}
    key_m = {
        g.tile_path: tuple(n // b for n, b in zip(g.group, g.block))
        for g in grids
    }
    offsets = unit_offsets(grids)
    bounds = cut(offsets, 0, len(offsets) - 1, n_parts)
    assert len(bounds) == n_parts + 1
    parts = [
        list(iter_units(grids, bounds[p], bounds[p + 1]))
        for p in range(n_parts)
    ]

    # Every shard exactly once.
    flat = [
        s for p in parts for g in p
        for s in _shards(g, block[g[0].tile_path])
    ]
    assert sorted(flat) == sorted(
        (g.tile_path, g.level, *cell)
        for g in grids
        for cell in shard_grid(g.dims, g.block)
    )

    # Each group is one superchunk key, and no key is split across
    # groups or partitions.
    home = {}
    for i, p in enumerate(parts):
        for j, g in enumerate(p):
            for s in _shards(g, block[g[0].tile_path]):
                key = (s[0], *(c // m for c, m in zip(s[2:5], key_m[s[0]])))
                assert home.setdefault(key, (i, j)) == (i, j)

    # Same input, same split.
    assert cut(unit_offsets(list(grids)), 0, len(offsets) - 1,
               n_parts) == bounds

    # The cumsum's group sizes are the expanded groups' voxels.
    sizes = np.diff(offsets)
    assert sizes.tolist() == [
        sum((s[6] - s[5]) * (s[8] - s[7]) * (s[10] - s[9])
            for s in _shards(g, block[g[0].tile_path]))
        for p in parts
        for g in p
    ]

    # Max load <= mean load + largest group.
    loads = [
        int(sizes[bounds[p]:bounds[p + 1]].sum()) for p in range(n_parts)
    ]
    assert sum(loads) == offsets[-1]
    assert max(loads) <= sum(loads) / n_parts + sizes.max()


def test_fewer_groups_than_partitions_leaves_empty_ones():
    grids = [Grid("t", "s", 0, (64, 64, 64), (32, 32, 32), (64, 64, 64),
                  (64, 64, 64), ())]
    offsets = unit_offsets(grids)
    bounds = cut(offsets, 0, len(offsets) - 1, 4)  # one group of 8 shards
    sizes = [hi - lo for lo, hi in zip(bounds, bounds[1:])]
    assert sorted(sizes) == [0, 0, 0, 1]

    calls = []

    def writer(groups):
        calls.append(list(groups))
        yield pd.DataFrame({"n": [len(calls[-1])]})

    feed = _PartitionFeed(grids, bounds, writer)
    for p, size in enumerate(sizes):
        out = list(feed(iter([pd.DataFrame({"id": [p]})])))
        if not size:
            assert out == []
        else:
            assert out[0]["n"].tolist() == [1]
    # The writer ran once, on the one non-empty partition, and got its
    # one group, whose shards are all the tile's shards.
    assert len(calls) == 1
    (group,) = calls[0]
    assert sorted(_shards(group, (32, 32, 32))) == sorted(
        ("t", 0, *cell) for cell in shard_grid((64, 64, 64), (32, 32, 32))
    )


def _feeds(monkeypatch, tiles, settings, n_cpus=4, **kw) -> list:
    """The ``_PartitionFeed`` of every pass ``convert_tiles_to_zarr``
    would run, captured instead of run (no Spark action; the plan's
    metadata is written)."""
    feeds = []
    monkeypatch.setattr(
        multitile, "_run_pass",
        lambda spark, feed: feeds.append(feed) or [],
    )
    spark = SimpleNamespace(
        sparkContext=SimpleNamespace(defaultParallelism=n_cpus)
    )
    convert_tiles_to_zarr(spark, tiles, settings, **kw)
    return feeds


def _feed_groups(feed) -> list[list[tuple]]:
    """Each Spark partition's groups of ``feed``."""
    b = feed.bounds
    return [
        list(iter_units(feed.grids, b[p], b[p + 1]))
        for p in range(len(b) - 1)
    ]


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
def test_partition_subset_matches_window_subset(
    spark, monkeypatch, two_tiles, n
):
    """Subset ``p`` of ``n`` is the ``p``-th voxel-balanced range of whole
    groups in the plan's order (tile, level, row-major): the groups whose
    voxel prefix sum ``s`` gives ``s * n div T == p``, as a Window over
    the same order computes it. So the subsets are disjoint, their union
    is every shard, and each holds whole groups."""
    settings = _settings(translate_pyramid=True)
    tasks, _, _ = build_global_tasks(spark, two_tiles, settings)
    vox = (
        (F.col("z1") - F.col("z0"))
        * (F.col("y1") - F.col("y0"))
        * (F.col("x1") - F.col("x0"))
    )
    groups = tasks.groupBy("superchunk").agg(
        F.first("tile_path").alias("tile_path"),
        F.first("level").alias("level"),
        F.min("z0").alias("z0"),
        F.min("y0").alias("y0"),
        F.min("x0").alias("x0"),
        F.sum(vox).alias("vox"),
    )
    total = groups.agg(F.sum("vox")).first()[0]
    subset = groups.selectExpr(
        "superchunk",
        "(sum(vox) OVER (ORDER BY tile_path, level, z0, y0, x0) - vox)"
        f" * {n} div {total} AS subset",
    )
    want: dict[int, set] = {}
    key_of = {}
    for r in tasks.join(subset, "superchunk").collect():
        shard = (r.tile_path, r.level, r.iz, r.iy, r.ix)
        want.setdefault(r.subset, set()).add(shard)
        key_of[shard] = r.superchunk

    got = {}
    for p in range(n):
        feeds = _feeds(
            monkeypatch, two_tiles, settings,
            partition_to_process=p, num_partitions=n,
        )
        got[p] = {
            s[:5]
            for feed in feeds
            for part in _feed_groups(feed)
            for g in part
            for s in _shards(g, (16, 16, 16))
        }
        assert got[p] == want.get(p, set())
    assert sum(map(len, got.values())) == len(key_of)
    assert set().union(*got.values()) == set(key_of)
    for p, shards in got.items():
        for q in got:
            if q != p:
                assert not {key_of[s] for s in shards} & {
                    key_of[s] for s in got[q]
                }


class _StubSource:
    """A one-level uint16 source of ``shape``, as the driver probe sees
    it."""

    def __init__(self, shape):
        self.meta = SourceMeta(
            dtype="uint16",
            shapes=[shape],
            voxel_size=(1.0, 1.0, 1.0),
            origin=(0.0, 0.0, 0.0),
        )

    def close(self):
        pass


def test_shipped_plan_is_per_tile_not_per_shard(monkeypatch, tmp_path):
    """22 tiles of 36x35x36 shards of 512^3 — 997,920 shards in 498,960
    groups at superchunk_multiple (2, 1, 1): the first pass's feed, as
    it ships to the writer tasks, pickles to under 64 KiB, and its
    ranges expand to every shard."""
    shape = (36 * 512, 35 * 512, 36 * 512)
    monkeypatch.setattr(
        multitile, "open_source", lambda p: _StubSource(shape)
    )
    tiles = [
        (f"/fake/tile{i}.ims", str(tmp_path / f"{i}.zarr"))
        for i in range(22)
    ]
    settings = ConvertJobSettings(
        input_source="unused",
        output_location=str(tmp_path),
        chunk_shape=(64, 64, 64),
        shard_shape=(512, 512, 512),
        superchunk_multiple=(2, 1, 1),
        translate_pyramid=True,
    )
    (feed,) = _feeds(monkeypatch, tiles, settings, n_cpus=64)
    assert len(pickle.dumps(feed)) < 64 * 1024
    n_shards = 0
    for part in _feed_groups(feed):
        for _, box in part:
            n_shards += sum(
                1 for _ in grid_cells(box[0::2], box[1::2], (512,) * 3)
            )
    assert n_shards == 997_920


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
    """Writer input needs no Spark job, and every level a pass computes
    is written inside its writer tasks: a two-tile fused cascade (one
    pass) runs the writer stage and the stats result (2 jobs), under
    on_corrupt="quarantine" too, the same as a translate run, two-tile
    or a single-tile Zarr v2 copy."""
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
    assert n == 2

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
    assert n == 2

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


def test_cascade_leaves_session_conf_alone(
    spark, monkeypatch, two_tiles, tmp_path
):
    """A cascade pass sets no Spark conf: two conversions sharing one
    session in threads cannot restore each other's values."""
    from pyspark.sql.conf import RuntimeConfig

    set_keys = []
    real_set = RuntimeConfig.set

    def recording_set(self, key, value):
        set_keys.append(key)
        return real_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", recording_set)
    tiles = [(src, str(tmp_path / f"c{i}.zarr")) for i, (src, _) in
             enumerate(two_tiles)]
    res = convert_tiles_to_zarr(
        spark, tiles,
        _settings(translate_pyramid=False, downsample_levels=3),
    )
    assert res["pyramid_plan"] == "fused_cascade"
    assert set_keys == []
