"""S9 superchunk read-once coalescing: one source read per superchunk
group, shards sliced from the in-memory region (reference
iter_superchunks, utils/io_utils.py:153-303). Counted with an
instrumented source driving the real writer directly."""

import numpy as np
import pandas as pd
import pytest

from aind_exaspim_data_transformation_spark.config import ConvertJobSettings
from aind_exaspim_data_transformation_spark.sources.tensor import (
    NpyPyramidSource,
    write_npy_pyramid,
)
from aind_exaspim_data_transformation_spark.zarrio import multitile
from aind_exaspim_data_transformation_spark.zarrio.format import (
    read_array_region,
)
from aind_exaspim_data_transformation_spark.zarrio.multitile import Task
from aind_exaspim_data_transformation_spark.zarrio.pipeline import (
    _level_specs,
    _read_group,
    _row_slices,
    convert_to_zarr,
)


class CountingSource(NpyPyramidSource):
    """NpyPyramidSource that records every read_block call."""

    def __init__(self, path: str):
        super().__init__(path)
        self.reads: list[tuple] = []

    def read_block(self, level, z0, z1, y0, y1, x0, x1):
        self.reads.append((level, z0, z1, y0, y1, x0, x1))
        return super().read_block(level, z0, z1, y0, y1, x0, x1)


def _settings(src, store, shard=(16, 16, 16), sm=(2, 2, 2)):
    return ConvertJobSettings(
        input_source=src,
        output_location=store,
        chunk_shape=(8, 8, 8),
        shard_shape=shard,
        superchunk_multiple=sm,
        translate_pyramid=True,
    )


def _global_groups(settings):
    """The tile's superchunk groups of multitile task rows (creating its
    store), as one writer task gets them, and its level-0 spec."""
    rows, specs, _, _ = multitile.plan_global_tasks(
        [(settings.input_source, settings.output_location)], settings
    )
    (groups,) = multitile.assign_groups(rows, 1)
    return groups, specs[settings.input_source][0]


def _tasks(*bounds):
    """Task rows of tile "t", store "s", level 0, one superchunk group,
    for ``(iz, iy, ix, z0, z1, y0, y1, x0, x1)`` bounds."""
    return [Task("t", "s", 0, *b, "t,0,0,0,0") for b in bounds]


@pytest.fixture()
def counted(tmp_path, monkeypatch):
    """(array, CountingSource, store) with multitile's open_source
    patched to hand back the instrumented instance."""
    rng = np.random.default_rng(7)
    arr = rng.integers(0, 65535, size=(64, 64, 64), dtype=np.uint16)
    src_path = str(tmp_path / "tile")
    write_npy_pyramid(src_path, arr, n_levels=1)
    src = CountingSource(src_path)
    monkeypatch.setattr(multitile, "open_source", lambda p: src)
    return arr, src, str(tmp_path / "out.zarr"), src_path


def test_one_read_per_superchunk(counted):
    arr, src, store, src_path = counted
    groups, spec0 = _global_groups(_settings(src_path, store))
    assert sum(map(len, groups)) == 64  # (64/16)^3 shards

    writer = multitile._GlobalWriter()
    stats = pd.concat(list(writer(groups)))

    # 64 shards in 8 superchunks of 2x2x2 shards -> exactly 8 source
    # reads, each a full 32^3 superchunk bounding box.
    assert len(stats) == 64
    assert len(src.reads) == 8
    assert all(
        (z1 - z0, y1 - y0, x1 - x0) == (32, 32, 32)
        for (_, z0, z1, y0, y1, x0, x1) in src.reads
    )
    got = read_array_region(
        store, 0,
        (slice(0, 1), slice(0, 1), slice(0, 64), slice(0, 64), slice(0, 64)),
        spec0,
    )[0, 0]
    np.testing.assert_array_equal(got, arr)


def test_edge_clamped_superchunks_still_coalesce(tmp_path):
    """Non-divisible shape: clamped edge groups still tile their bounding
    box exactly, so every multi-shard group coalesces to one read."""
    rng = np.random.default_rng(13)
    arr = rng.integers(0, 65535, size=(48, 40, 33), dtype=np.uint16)
    src_path = str(tmp_path / "edge_tile")
    write_npy_pyramid(src_path, arr, n_levels=1)
    src = CountingSource(src_path)
    import unittest.mock as mock

    store = str(tmp_path / "edge.zarr")
    with mock.patch.object(multitile, "open_source", lambda p: src):
        groups, spec0 = _global_groups(_settings(src_path, store))
        assert sum(map(len, groups)) == 27  # ceil-div grid 3x3x3
        list(multitile._GlobalWriter()(groups))

    # grid 3x3x3 with multiple 2 -> 2x2x2 = 8 superchunk groups
    assert len(src.reads) == 8
    got = read_array_region(
        store, 0,
        (slice(0, 1), slice(0, 1), slice(0, 48), slice(0, 40), slice(0, 33)),
        spec0,
    )[0, 0]
    np.testing.assert_array_equal(got, arr)


def test_partial_group_falls_back_to_per_row_reads(counted):
    """A subset run (resume protocol) whose group no longer tiles its
    bbox must NOT over-read: falls back to one read per row."""
    arr, src, store, src_path = counted
    settings = _settings(src_path, store)
    specs = _level_specs(settings, [arr.shape], "uint16")

    # two shards of the same superchunk, diagonal -> bbox 32^3 but rows
    # cover only 2*16^3: volume check must reject.
    rows = _tasks(
        (0, 0, 0, 0, 16, 0, 16, 0, 16),
        (1, 1, 1, 16, 32, 16, 32, 16, 32),
    )
    box, region, failed = _read_group(
        rows,
        lambda r, z0, z1, y0, y1, x0, x1: src.read_block(
            r.level, z0, z1, y0, y1, x0, x1
        ),
        specs[0],
    )
    assert failed == []
    assert region.shape == (32, 32, 32)
    assert len(src.reads) == 2  # per-row, no 32^3 over-read
    for r in rows:
        np.testing.assert_array_equal(
            region[_row_slices(r, box)],
            arr[r.z0 : r.z1, r.y0 : r.y1, r.x0 : r.x1],
        )
    # Outside the rows the region holds fill_value.
    assert not region[16:, :16, :].any()


def test_failed_group_read_falls_back_to_rows(counted):
    """A quarantined group read is retried row by row, and only the rows
    whose own reads fail come back failed, as fill_value; a one-row
    group's failed read was that row's own read, so it is not
    repeated."""
    arr, src, store, src_path = counted
    spec = _level_specs(_settings(src_path, store), [arr.shape], "uint16")[0]
    calls = []

    def read(r, z0, z1, y0, y1, x0, x1):
        calls.append((z0, z1, y0, y1, x0, x1))
        if (z1 - z0) > 16 or r.iz == 1:  # the group read and row iz=1
            return None
        return src.read_block(r.level, z0, z1, y0, y1, x0, x1)

    rows = _tasks(
        (0, 0, 0, 0, 16, 0, 16, 0, 16),
        (1, 0, 0, 16, 32, 0, 16, 0, 16),
    )
    box, region, failed = _read_group(rows, read, spec)
    assert box == (0, 32, 0, 16, 0, 16)
    assert calls == [box, (0, 16, 0, 16, 0, 16), (16, 32, 0, 16, 0, 16)]
    assert failed == [rows[1]]
    np.testing.assert_array_equal(region[:16], arr[:16, :16, :16])
    assert (region[16:] == spec.fill_value).all()

    calls.clear()
    box, region, failed = _read_group(rows[1:], read, spec)
    assert calls == [box] and failed == rows[1:]
    assert (region == spec.fill_value).all()


def test_fused_writer_rejects_incomplete_group():
    """The fused cascade reduces a whole group's bounding box, so a group
    whose rows do not tile it must raise rather than cascade fill voxels
    into the deeper levels."""
    rows = _tasks(
        (0, 0, 0, 0, 16, 0, 16, 0, 16),
        (1, 1, 1, 16, 32, 16, 32, 16, 32),
    )
    writer = multitile._GlobalWriter(cascade=((2, 2, 2), "mean", 2))
    with pytest.raises(RuntimeError, match="incomplete superchunk"):
        list(writer([rows]))


def test_global_writer_coalesces(spark, counted):
    """Multitile path: one action, reads counted per superchunk."""
    arr, src, store, src_path = counted
    settings = _settings(src_path, store)
    stats = multitile.convert_tiles_to_zarr(
        spark, [(src_path, store)], settings
    )
    assert stats["n_shards"] == 64
    # Spark workers run in separate processes, so the driver-side counter
    # only sees the driver probe; correctness is the voxel round trip.
    got = read_array_region(
        store, 0,
        (slice(0, 1), slice(0, 1), slice(0, 64), slice(0, 64), slice(0, 64)),
    )[0, 0]
    np.testing.assert_array_equal(got, arr)


def test_convert_to_zarr_end_to_end_with_coalescing(spark, tmp_path):
    """Full pipeline through Spark with superchunk_multiple (2,2,2):
    voxel-equal round trip via the coalesced read path."""
    rng = np.random.default_rng(23)
    arr = rng.integers(0, 65535, size=(48, 48, 48), dtype=np.uint16)
    src_path = str(tmp_path / "e2e_tile")
    write_npy_pyramid(src_path, arr, n_levels=1)
    store = str(tmp_path / "e2e.zarr")
    settings = _settings(src_path, store)
    convert_to_zarr(spark, settings)
    got = read_array_region(
        store, 0,
        (slice(0, 1), slice(0, 1), slice(0, 48), slice(0, 48), slice(0, 48)),
    )[0, 0]
    np.testing.assert_array_equal(got, arr)
