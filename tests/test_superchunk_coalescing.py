"""S9 superchunk read-once coalescing: one source read per superchunk
group, shards sliced from the in-memory region (reference
iter_superchunks, utils/io_utils.py:153-303). Counted with an
instrumented source driving the real writer UDFs directly."""

import numpy as np
import pandas as pd
import pytest

from aind_exaspim_data_transformation_spark.config import ConvertJobSettings
from aind_exaspim_data_transformation_spark.sources.tensor import (
    NpyPyramidSource,
    write_npy_pyramid,
)
from aind_exaspim_data_transformation_spark.zarrio import multitile, pipeline
from aind_exaspim_data_transformation_spark.zarrio.format import (
    read_array_region,
)
from aind_exaspim_data_transformation_spark.zarrio.pipeline import (
    _level_specs,
    convert_to_zarr,
    iter_coalesced_reads,
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


def _global_tasks(spark, settings):
    """The tile's multitile task rows (creating its store) and level-0
    spec, rows ordered so each superchunk group is contiguous."""
    tasks, specs, _ = multitile.build_global_tasks(
        spark, [(settings.input_source, settings.output_location)], settings
    )
    pdf = (
        tasks.toPandas()
        .sort_values(["superchunk", "iz", "iy", "ix"])
        .reset_index(drop=True)
    )
    return pdf, specs[settings.input_source][0]


@pytest.fixture()
def counted(tmp_path, monkeypatch):
    """(array, CountingSource, store) with pipeline/multitile open_source
    patched to hand back the instrumented instance."""
    rng = np.random.default_rng(7)
    arr = rng.integers(0, 65535, size=(64, 64, 64), dtype=np.uint16)
    src_path = str(tmp_path / "tile")
    write_npy_pyramid(src_path, arr, n_levels=1)
    src = CountingSource(src_path)
    monkeypatch.setattr(pipeline, "open_source", lambda p: src)
    monkeypatch.setattr(multitile, "open_source", lambda p: src)
    return arr, src, str(tmp_path / "out.zarr"), src_path


def test_one_read_per_superchunk(spark, counted):
    arr, src, store, src_path = counted
    pdf, spec0 = _global_tasks(spark, _settings(src_path, store))
    assert len(pdf) == 64  # (64/16)^3 shards

    writer = multitile._GlobalWriter()
    stats = pd.concat(list(writer(iter([pdf]))))

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


def test_group_split_across_batches_is_read_once(spark, counted):
    """mapInPandas may hand one partition over as several Arrow batches;
    a superchunk group split between two of them is still read once."""
    arr, src, store, src_path = counted
    pdf, spec0 = _global_tasks(spark, _settings(src_path, store))
    assert len(pdf) == 64

    # Rows [:4] are half of the first 2x2x2-shard group.
    batches = [pdf.iloc[:4], pdf.iloc[4:]]
    stats = pd.concat(list(multitile._GlobalWriter()(iter(batches))))

    assert len(stats) == 64
    assert len(src.reads) == 8
    got = read_array_region(
        store, 0,
        (slice(0, 1), slice(0, 1), slice(0, 64), slice(0, 64), slice(0, 64)),
        spec0,
    )[0, 0]
    np.testing.assert_array_equal(got, arr)


def test_edge_clamped_superchunks_still_coalesce(spark, tmp_path):
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
        pdf, spec0 = _global_tasks(spark, _settings(src_path, store))
        assert len(pdf) == 27  # ceil-div grid 3x3x3
        list(multitile._GlobalWriter()(iter([pdf])))

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

    rows = pd.DataFrame(
        [
            # two shards of the same superchunk, diagonal -> bbox 32^3
            # but rows cover only 2*16^3: volume check must reject.
            dict(level=0, iz=0, iy=0, ix=0, z0=0, z1=16, y0=0, y1=16,
                 x0=0, x1=16, superchunk="0,0,0,0"),
            dict(level=0, iz=1, iy=1, ix=1, z0=16, z1=32, y0=16, y1=32,
                 x0=16, x1=32, superchunk="0,0,0,0"),
        ]
    )
    region, items = iter_coalesced_reads(
        list(rows.itertuples(index=False)),
        lambda r, z0, z1, y0, y1, x0, x1: src.read_block(
            r.level, z0, z1, y0, y1, x0, x1
        ),
    )
    out = list(items)
    assert region is None
    assert len(out) == 2
    assert len(src.reads) == 2  # per-row, no 32^3 over-read
    for (r, block, _sec) in out:
        np.testing.assert_array_equal(
            block, arr[r.z0 : r.z1, r.y0 : r.y1, r.x0 : r.x1]
        )


def test_fused_writer_rejects_incomplete_group():
    """The fused cascade reduces a whole group's bounding box, so a group
    whose rows do not tile it must raise rather than cascade fill voxels
    into the deeper levels."""
    rows = pd.DataFrame(
        [
            dict(level=0, iz=0, iy=0, ix=0, z0=0, z1=16, y0=0, y1=16,
                 x0=0, x1=16, superchunk="t,0,0,0,0"),
            dict(level=0, iz=1, iy=1, ix=1, z0=16, z1=32, y0=16, y1=32,
                 x0=16, x1=32, superchunk="t,0,0,0,0"),
        ]
    )
    writer = multitile._GlobalWriter(cascade=((2, 2, 2), "mean", 2))
    with pytest.raises(RuntimeError, match="incomplete superchunk"):
        list(writer(iter([rows])))


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
