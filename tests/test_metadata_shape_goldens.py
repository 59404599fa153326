"""Verbatim port of the reference's metadata-shape regression values
(tests/test_imaris_job.py:1309-1387, TestBuildGlobalShardTaskList):
shard enumeration must use the authoritative DataSetInfo metadata shape,
never the chunk-padded HDF5 dataset shape. The reference mocks
ImarisReader; the twin here stubs open_source with the same numbers and
asserts the task rows build_global_tasks emits."""

import numpy as np
import pytest

from aind_exaspim_data_transformation_spark.config import ConvertJobSettings
from aind_exaspim_data_transformation_spark.sources.tensor import SourceMeta
from aind_exaspim_data_transformation_spark.zarrio import multitile


class _StubSource:
    """Driver-side probe stand-in: reports TRUE (metadata) shapes, the
    way Hdf5ImarisSource derives them from DataSetInfo — the padded
    on-disk shape never reaches task enumeration."""

    def __init__(self, shapes):
        self.meta = SourceMeta(
            dtype="uint16",
            shapes=list(shapes),
            voxel_size=(1.0, 1.0, 1.0),
            origin=(0.0, 0.0, 0.0),
        )

    def close(self):
        pass


def _settings(tmp_path, shard=(512, 512, 512), sm=(2, 1, 1)):
    return ConvertJobSettings(
        input_source="unused",
        output_location=str(tmp_path),
        chunk_shape=(64, 64, 64),
        shard_shape=shard,
        superchunk_multiple=sm,
        translate_pyramid=True,
    )


def _tasks(
    spark, tmp_path, monkeypatch, shapes_by_tile, shard, sm=(2, 1, 1)
):
    monkeypatch.setattr(
        multitile, "open_source",
        lambda p: _StubSource(shapes_by_tile[p]),
    )
    tiles = [
        (p, str(tmp_path / f"{i}.zarr"))
        for i, p in enumerate(shapes_by_tile)
    ]
    tasks, _specs, _quarantined = multitile.build_global_tasks(
        spark, tiles, _settings(tmp_path, shard, sm)
    )
    return tasks.toPandas()


def test_uses_metadata_shape_not_hdf5_shape(spark, tmp_path, monkeypatch):
    """Reference golden: meta (512,512,512) vs padded HDF5 (576,576,576)
    at shard 512 -> exactly 1 shard at grid (0,0,0)."""
    pdf = _tasks(
        spark, tmp_path, monkeypatch,
        {"/fake/tile.ims": [(512, 512, 512)]}, (512, 512, 512),
    )
    assert len(pdf) == 1
    row = pdf.iloc[0]
    assert (row.iz, row.iy, row.ix) == (0, 0, 0)
    assert (row.z0, row.z1, row.y0, row.y1, row.x0, row.x1) == (
        0, 512, 0, 512, 0, 512,
    )


def test_shard_count_from_metadata_shape(spark, tmp_path, monkeypatch):
    """Reference golden: meta (1024,1024,1024) (padded 1088^3 on disk)
    at shard 512 -> 2x2x2 = 8 shards."""
    pdf = _tasks(
        spark, tmp_path, monkeypatch,
        {"/fake/tile.ims": [(1024, 1024, 1024)]}, (512, 512, 512),
    )
    assert len(pdf) == 8
    assert sorted(zip(pdf.iz, pdf.iy, pdf.ix)) == [
        (z, y, x) for z in (0, 1) for y in (0, 1) for x in (0, 1)
    ]


def test_multiple_stacks_summed(spark, tmp_path, monkeypatch):
    """Reference golden: two tiles concatenate to 2 tasks, tile order
    preserved."""
    pdf = _tasks(
        spark, tmp_path, monkeypatch,
        {
            "/fake/tile_a.ims": [(512, 512, 512)],
            "/fake/tile_b.ims": [(512, 512, 512)],
        },
        (512, 512, 512),
    )
    assert len(pdf) == 2
    assert list(pdf.tile_path) == ["/fake/tile_a.ims", "/fake/tile_b.ims"]


def test_padded_shape_would_give_wrong_count(spark, tmp_path, monkeypatch):
    """Reference golden (old-bug contrast): if enumeration consumed the
    padded (576,576,576) shape it would emit ceil(576/512)^3 = 8 tasks;
    the metadata shape gives 1."""
    padded = _tasks(
        spark, tmp_path, monkeypatch,
        {"/fake/padded.ims": [(576, 576, 576)]}, (512, 512, 512),
    )
    assert len(padded) == 8  # what the old bug produced
    true = _tasks(
        spark, tmp_path, monkeypatch,
        {"/fake/tile.ims": [(512, 512, 512)]}, (512, 512, 512),
    )
    assert len(true) == 1


def test_multi_level_and_superchunk_keys(spark, tmp_path, monkeypatch):
    """Translate mode emits every level's shards; at superchunk multiple
    2 the 2x2x2 level-0 shards form one group and share one key."""
    pdf = _tasks(
        spark, tmp_path, monkeypatch,
        {"/fake/tile.ims": [(128, 128, 128), (64, 64, 64)]},
        (64, 64, 64),
        sm=(2, 2, 2),
    )
    assert len(pdf) == 8 + 1
    sc0 = set(pdf[pdf.level == 0].superchunk)
    # all 8 level-0 shards share one superchunk
    assert sc0 == {"/fake/tile.ims,0,0,0,0"}
