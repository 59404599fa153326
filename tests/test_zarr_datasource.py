"""spark.read.format('zarrshards') over an engine-written store, local
and behind an S3 URL (``s3+local://``, the filesystem-backed fake S3
client): the reader goes through ``zarrio.kvstore``, so both scan the
same rows."""

import numpy as np
import pytest

from pyspark.sql import functions as F

from aind_exaspim_data_transformation_spark.config import ConvertJobSettings
from aind_exaspim_data_transformation_spark.sources.tensor import (
    write_npy_pyramid,
)
from aind_exaspim_data_transformation_spark.sources.zarr_datasource import (
    ZarrShardDataSource,
)
from aind_exaspim_data_transformation_spark.zarrio.pipeline import (
    convert_to_zarr,
)


@pytest.fixture(scope="module", params=["local", "s3+local"])
def store(spark, tmp_path_factory, request):
    tmp = tmp_path_factory.mktemp("ds")
    rng = np.random.default_rng(42)
    level0 = rng.integers(0, 65535, size=(50, 40, 30), dtype=np.uint16)
    src = str(tmp / "tile")
    write_npy_pyramid(src, level0, n_levels=2)
    out = (
        str(tmp / "store.zarr")
        if request.param == "local"
        else f"s3+local://{tmp / 's3root'}//bkt/out/store.zarr"
    )
    convert_to_zarr(
        spark,
        ConvertJobSettings(
            input_source=src,
            output_location=out,
            chunk_shape=(16, 16, 16),
            shard_shape=(32, 32, 32),
            translate_pyramid=True,
        ),
    )
    spark.dataSource.register(ZarrShardDataSource)
    return out, level0


def test_metadata_scan(spark, store):
    path, _ = store
    df = (
        spark.read.format("zarrshards")
        .option("path", path)
        .option("level", "0")
        .load()
    )
    rows = df.collect()
    # (50,40,30): shard_x clamps to 16 (chunk multiple) -> grid 2x2x2
    assert len(rows) == 2 * 2 * 2
    assert {f.name for f in df.schema.fields} >= {"level", "iz", "z0", "z1"}
    edge = [r for r in rows if (r.iz, r.iy, r.ix) == (1, 1, 1)][0]
    assert (edge.z1 - edge.z0, edge.y1 - edge.y0, edge.x1 - edge.x0) == (
        18, 8, 14,
    )
    assert all(r.file_bytes > 0 for r in rows)


def test_payload_scan_roundtrip(spark, store):
    path, level0 = store
    df = (
        spark.read.format("zarrshards")
        .option("path", path)
        .option("level", "0")
        .option("payload", "true")
        .load()
    )
    row = df.where(
        (F.col("iz") == 0) & (F.col("iy") == 0) & (F.col("ix") == 0)
    ).collect()[0]
    block = np.frombuffer(row.payload, dtype=np.uint16).reshape(
        row.z1 - row.z0, row.y1 - row.y0, row.x1 - row.x0
    )
    np.testing.assert_array_equal(
        block, level0[row.z0 : row.z1, row.y0 : row.y1, row.x0 : row.x1]
    )
    # aggregate over payload sizes = full logical array bytes
    total = df.select(
        F.sum(F.octet_length("payload")).alias("b")
    ).collect()[0]["b"]
    assert total == level0.nbytes
    voxel_sum = sum(
        int(np.frombuffer(r.payload, dtype=np.uint16).sum(dtype=np.int64))
        for r in df.select("payload").collect()
    )
    assert voxel_sum == int(level0.sum(dtype=np.int64))
