"""Zarr v2 legacy layout (X5) round trips + padded-shape walk goldens."""

import json

import numpy as np
import pytest

from aind_exaspim_data_transformation_spark.config import ConvertJobSettings
from aind_exaspim_data_transformation_spark.operators.downsample import (
    downsample_block,
)
from aind_exaspim_data_transformation_spark.sources.tensor import (
    true_shapes_from_padded,
    write_npy_pyramid,
)
from aind_exaspim_data_transformation_spark.zarrio.format import (
    ShardSpec,
    write_array_metadata,
)
from aind_exaspim_data_transformation_spark.zarrio.pipeline import (
    convert_to_zarr,
)
from aind_exaspim_data_transformation_spark.zarrio.v2 import (
    V2Spec,
    decode_v2_chunk,
    encode_v2_chunk,
    read_v2_region,
)
from tests.test_pyramid_cascade import STAGE_KEYS


def test_true_shapes_from_padded_regression():
    # Imaris pads to 64-multiples: metadata shape (100, 200, 300) padded
    # to (128, 256, 320); level 1 padded (64, 128, 192) -> true shape
    # scales by the padded ratio (reference regression
    # tests/test_imaris_job.py:1309-1387 semantics).
    shapes = true_shapes_from_padded(
        (100, 200, 300),
        [(128, 256, 320), (64, 128, 192), (64, 64, 128)],
    )
    assert shapes[0] == (100, 200, 300)
    assert shapes[1] == (50, 100, 180)  # 100*64/128, 200*128/256, 300*192/320
    assert shapes[2] == (50, 50, 120)
    assert true_shapes_from_padded((7, 7, 7), []) == [(7, 7, 7)]
    # never collapses below 1
    assert true_shapes_from_padded((1, 1, 1), [(64, 64, 64), (64, 64, 64)])[
        1
    ] == (1, 1, 1)


def test_v2_chunk_roundtrip_and_padding():
    spec = V2Spec(shape=(1, 1, 40, 40, 40), chunks=(1, 1, 16, 16, 16))
    rng = np.random.default_rng(5)
    full = rng.integers(0, 65535, size=(1, 1, 16, 16, 16), dtype=np.uint16)
    assert (decode_v2_chunk(encode_v2_chunk(full, spec), spec) == full).all()
    edge = full[:, :, :8, :16, :12]
    out = decode_v2_chunk(encode_v2_chunk(edge, spec), spec)
    assert (out[:, :, :8, :16, :12] == edge).all()
    assert (out[:, :, 8:, :, :] == 0).all()


def test_convert_to_zarr_v2_store(spark, tmp_path):
    rng = np.random.default_rng(9)
    arr = rng.integers(0, 65535, size=(40, 50, 60), dtype=np.uint16)
    src = str(tmp_path / "tile")
    write_npy_pyramid(src, arr, n_levels=2)
    store = str(tmp_path / "legacy.zarr")
    result = convert_to_zarr(
        spark,
        ConvertJobSettings(
            input_source=src,
            output_location=store,
            chunk_shape=(16, 16, 16),
            # v2 stores are zlib at codec_level whatever codec says —
            # pin the legacy pairing
            codec="gzip",
            codec_level=1,
        ),
        zarr_format=2,
    )
    assert result["n_levels"] == 2
    assert result["shapes"] == [(40, 50, 60), (20, 25, 30)]
    # The one writer's source-read stage: 48 level-0 + 8 level-1 chunks.
    stats = result["stages"][0]
    assert set(stats) == STAGE_KEYS | {"level"}
    assert stats["n_shards"] == 48 + 8
    assert stats["n_errors"] == 0 and stats["error_samples"] == []
    # .zarray metadata is spec-conformant
    zarray = json.load(open(f"{store}/0/.zarray"))
    assert zarray["zarr_format"] == 2
    assert zarray["dtype"] == "<u2"
    assert zarray["compressor"] == {"id": "zlib", "level": 1}
    assert json.load(open(f"{store}/.zgroup")) == {"zarr_format": 2}
    # voxel round trip on both levels
    spec0 = V2Spec(shape=(1, 1, 40, 50, 60), chunks=(1, 1, 16, 16, 16))
    got = read_v2_region(
        store, 0,
        (slice(0, 1), slice(0, 1), slice(0, 40), slice(0, 50), slice(0, 60)),
        spec0,
    )[0, 0]
    np.testing.assert_array_equal(got, arr)
    spec1 = V2Spec(shape=(1, 1, 20, 25, 30), chunks=(1, 1, 16, 16, 16))
    got1 = read_v2_region(
        store, 1,
        (slice(0, 1), slice(0, 1), slice(0, 20), slice(0, 25), slice(0, 30)),
        spec1,
    )[0, 0]
    np.testing.assert_array_equal(
        got1, downsample_block(arr, (2, 2, 2), "mean").astype(arr.dtype)
    )


@pytest.mark.parametrize(
    "case", ["computed_pyramid", "v3_store", "unknown_format"]
)
def test_convert_to_zarr_v2_rejects_what_v2_cannot_write(
    spark, tmp_path, case
):
    """v2 copies the source's own levels, and the writer reads a level's
    zarr.json before its .zarray: a computed pyramid, or a location that
    holds a v3 level, raises and leaves the location as it was; so does
    a format that is neither 2 nor 3."""
    src = str(tmp_path / "tile")
    write_npy_pyramid(src, np.zeros((8, 8, 8), dtype=np.uint16), n_levels=2)
    store = tmp_path / "store.zarr"
    kw, zarr_format = {}, 2
    if case == "v3_store":
        write_array_metadata(
            str(store), 0,
            ShardSpec(shape=(1, 1, 8, 8, 8), shard_shape=(1, 1, 8, 8, 8),
                      chunk_shape=(1, 1, 4, 4, 4)),
        )
        match = "Zarr v3 level 0"
    elif case == "unknown_format":
        zarr_format, match = 4, "zarr_format must be 2 or 3"
    else:
        kw = dict(translate_pyramid=False, downsample_levels=2)
        match = "translate_pyramid"
    before = sorted(store.rglob("*"))
    with pytest.raises(ValueError, match=match):
        convert_to_zarr(
            spark,
            ConvertJobSettings(
                input_source=src,
                output_location=str(store),
                chunk_shape=(4, 4, 4),
                **kw,
            ),
            zarr_format=zarr_format,
        )
    assert sorted(store.rglob("*")) == before
