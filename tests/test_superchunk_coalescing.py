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
    grid_cells,
    read_array_region,
)
from aind_exaspim_data_transformation_spark.zarrio.pipeline import (
    _level_specs,
    _read_group,
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
    """The tile's superchunk groups (creating its store), as one writer
    task gets them, and its level-0 spec."""
    grids, specs, _, _ = multitile.plan_global_tasks(
        [(settings.input_source, settings.output_location)], settings
    )
    n = len(multitile.unit_offsets(grids)) - 1
    groups = list(multitile.iter_units(grids, 0, n))
    return groups, specs[settings.input_source][0]


def _cells(box, block=(16, 16, 16)):
    """The shards of the group ``box``, as the writer walks them."""
    return list(grid_cells(box[0::2], box[1::2], block))


def _n_shards(groups, spec):
    return sum(len(_cells(box, spec.shard_shape[2:])) for _, box in groups)


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
    assert _n_shards(groups, spec0) == 64  # (64/16)^3 shards

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
        assert _n_shards(groups, spec0) == 27  # ceil-div grid 3x3x3
        list(multitile._GlobalWriter()(groups))

    # grid 3x3x3 with multiple 2 -> 2x2x2 = 8 superchunk groups
    assert len(src.reads) == 8
    got = read_array_region(
        store, 0,
        (slice(0, 1), slice(0, 1), slice(0, 48), slice(0, 40), slice(0, 33)),
        spec0,
    )[0, 0]
    np.testing.assert_array_equal(got, arr)


def test_failed_group_read_falls_back_to_rows(counted):
    """A quarantined group read is retried shard by shard, and only the
    shards whose own reads fail come back failed, as fill_value; a
    one-shard group's failed read was that shard's own read, so it is not
    repeated."""
    arr, src, store, src_path = counted
    spec = _level_specs(_settings(src_path, store), [arr.shape], "uint16")[0]
    calls = []

    def read(z0, z1, y0, y1, x0, x1):
        calls.append((z0, z1, y0, y1, x0, x1))
        if (z1 - z0) > 16 or z0 == 16:  # the group read and shard iz=1
            return "read: OSError: broken"
        return src.read_block(0, z0, z1, y0, y1, x0, x1)

    box = (0, 32, 0, 16, 0, 16)
    cells = _cells(box)
    region, failed = _read_group(box, cells, read, spec)
    assert [idx for idx, _, _ in cells] == [(0, 0, 0), (1, 0, 0)]
    assert calls == [box, (0, 16, 0, 16, 0, 16), (16, 32, 0, 16, 0, 16)]
    assert failed == {(1, 0, 0): "read: OSError: broken"}
    np.testing.assert_array_equal(region[:16], arr[:16, :16, :16])
    assert (region[16:] == spec.fill_value).all()

    calls.clear()
    box = (16, 32, 0, 16, 0, 16)
    region, failed = _read_group(box, _cells(box), read, spec)
    assert calls == [box] and list(failed) == [(1, 0, 0)]
    assert (region == spec.fill_value).all()


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
