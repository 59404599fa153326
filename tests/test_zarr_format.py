"""Zarr v3 sharded format: encode/decode round trips, clamping goldens,
store metadata, and region reads."""

import json

import numpy as np
import pytest

from aind_exaspim_data_transformation_spark.zarrio.format import (
    ShardSpec,
    clamp_shard_and_chunk,
    decode_shard,
    encode_shard,
    read_array_metadata,
    read_array_region,
    write_array_metadata,
    write_group_metadata,
    write_shard_file,
)


def _spec(**kw):
    base = dict(
        shape=(1, 1, 64, 64, 64),
        shard_shape=(1, 1, 32, 32, 32),
        chunk_shape=(1, 1, 16, 16, 16),
        dtype="uint16",
        codec="gzip",
        codec_level=1,
    )
    base.update(kw)
    return ShardSpec(**base)


def test_encode_decode_roundtrip():
    spec = _spec()
    rng = np.random.default_rng(42)
    data = rng.integers(0, 65535, size=spec.shard_shape, dtype=np.uint16)
    blob = encode_shard(data, spec)
    out = decode_shard(blob, spec)
    np.testing.assert_array_equal(out, data)


def test_encode_rejects_wrong_shape():
    spec = _spec()
    with pytest.raises(ValueError, match="shard data shape"):
        encode_shard(np.zeros((1, 1, 16, 16, 16), dtype=np.uint16), spec)


def test_shard_must_be_chunk_multiple():
    with pytest.raises(ValueError, match="multiple"):
        _spec(shard_shape=(1, 1, 24, 32, 32))


def test_index_crc_detects_corruption():
    spec = _spec()
    data = np.ones(spec.shard_shape, dtype=np.uint16)
    blob = bytearray(encode_shard(data, spec))
    blob[-5] ^= 0xFF  # flip a bit inside the index
    with pytest.raises(ValueError, match="crc32c"):
        decode_shard(bytes(blob), spec)


def test_clamping_rules_match_reference_semantics():
    # shard rounded down to a chunk multiple, at least one chunk
    # (reference compress/imaris_to_zarr.py:205-220).
    shard, chunk = clamp_shard_and_chunk(
        (100, 200, 300), (512, 512, 512), (128, 256, 256)
    )
    assert chunk == (100, 200, 256)
    assert shard == (100, 200, 256)
    # big array: no clamping
    shard, chunk = clamp_shard_and_chunk(
        (768, 2688, 3584), (512, 512, 512), (128, 256, 256)
    )
    assert shard == (512, 512, 512)
    assert chunk == (128, 256, 256)


def test_store_metadata_and_region_read(tmp_path):
    store = str(tmp_path / "store.zarr")
    spec = _spec(shape=(1, 1, 40, 40, 40))  # edge shards truncated
    rng = np.random.default_rng(7)
    full = rng.integers(0, 65535, size=(40, 40, 40), dtype=np.uint16)
    write_array_metadata(store, 0, spec)
    for iz in range(2):
        for iy in range(2):
            for ix in range(2):
                z0, y0, x0 = iz * 32, iy * 32, ix * 32
                block = full[z0 : z0 + 32, y0 : y0 + 32, x0 : x0 + 32]
                padded = np.zeros((1, 1, 32, 32, 32), dtype=np.uint16)
                padded[0, 0, : block.shape[0], : block.shape[1], : block.shape[2]] = block
                blob = encode_shard(padded, spec)
                write_shard_file(store, 0, (0, 0, iz, iy, ix), blob)

    rt = read_array_metadata(store, 0)
    assert rt.shape == spec.shape
    assert rt.chunk_shape == spec.chunk_shape
    assert rt.codec == "gzip"

    region = read_array_region(
        store,
        0,
        (slice(0, 1), slice(0, 1), slice(5, 37), slice(0, 40), slice(30, 40)),
    )
    np.testing.assert_array_equal(region[0, 0], full[5:37, 0:40, 30:40])


def test_group_metadata(tmp_path):
    store = str(tmp_path / "g.zarr")
    write_group_metadata(store, {"ome": {"version": "0.5"}})
    meta = json.load(open(f"{store}/zarr.json"))
    assert meta["node_type"] == "group"
    assert meta["attributes"]["ome"]["version"] == "0.5"


def test_transpose_codec_roundtrip():
    """Inner transpose codec (reference chain transpose+compressor,
    compress/imaris_to_zarr.py:222-226): arbitrary permutations must
    round-trip; stored bytes differ from the untransposed encoding."""
    import numpy as np

    from aind_exaspim_data_transformation_spark.zarrio.format import (
        ShardSpec,
        decode_shard,
        encode_shard,
    )

    rng = np.random.default_rng(5)
    data = rng.integers(0, 65535, (1, 1, 4, 6, 8), dtype=np.uint16)
    base = dict(
        shape=(1, 1, 4, 6, 8),
        shard_shape=(1, 1, 4, 6, 8),
        chunk_shape=(1, 1, 2, 3, 4),
        codec="gzip",
    )
    plain = ShardSpec(**base)
    for order in ["C", "F", (0, 1, 4, 2, 3)]:
        spec = ShardSpec(**base, transpose_order=order)
        blob = encode_shard(data, spec)
        np.testing.assert_array_equal(decode_shard(blob, spec), data)
        if order != "C":  # C is the identity permutation
            assert blob != encode_shard(data, plain)
    # identity ("C") produces byte-identical shards to no-transpose
    c_spec = ShardSpec(**base, transpose_order="C")
    assert encode_shard(data, c_spec) == encode_shard(data, plain)


def test_transpose_codec_chain_structure(tmp_path):
    """Golden structural parity with the reference's spec JSON
    (compress/imaris_to_zarr.py:222-242): transpose first, compressor
    with level, crc32c'd little-endian index at the end. The explicit
    `bytes` codec between them is required by the v3 spec (TensorStore
    inserts it implicitly for the reference)."""
    import json
    import os

    from aind_exaspim_data_transformation_spark.zarrio.format import (
        ShardSpec,
        read_array_metadata,
        write_array_metadata,
    )

    spec = ShardSpec(
        shape=(1, 1, 8, 8, 8),
        shard_shape=(1, 1, 8, 8, 8),
        chunk_shape=(1, 1, 4, 4, 4),
        codec="zstd",
        codec_level=3,
        transpose_order="C",
    )
    store = str(tmp_path / "t.zarr")
    write_array_metadata(store, 0, spec)
    meta = json.load(open(os.path.join(store, "0", "zarr.json")))
    shard_cfg = meta["codecs"][0]
    assert shard_cfg["name"] == "sharding_indexed"
    inner = shard_cfg["configuration"]["codecs"]
    assert [c["name"] for c in inner] == ["transpose", "bytes", "zstd"]
    assert inner[0]["configuration"]["order"] == [0, 1, 2, 3, 4]
    assert inner[2]["configuration"]["level"] == 3
    assert shard_cfg["configuration"]["index_codecs"] == [
        {"name": "bytes", "configuration": {"endian": "little"}},
        {"name": "crc32c"},
    ]
    assert shard_cfg["configuration"]["index_location"] == "end"
    # metadata round-trip preserves the normalized permutation
    assert read_array_metadata(store, 0) == spec


def test_pipeline_with_zstd(spark, tmp_path):
    """End-to-end conversion with the production codec (zstd-3, the
    reference's chain at compress/imaris_to_zarr.py:223-242) stays
    voxel-exact, writes real zstd frames, and rewrites are byte-identical
    (the idempotent-shard guarantee, per-backend — codecs.py)."""
    import os

    import numpy as np

    from aind_exaspim_data_transformation_spark.config import (
        ConvertJobSettings,
    )
    from aind_exaspim_data_transformation_spark.sources.tensor import (
        write_npy_pyramid,
    )
    from aind_exaspim_data_transformation_spark.zarrio.format import (
        read_array_metadata,
        read_array_region,
    )
    from aind_exaspim_data_transformation_spark.zarrio.pipeline import (
        convert_to_zarr,
    )

    rng = np.random.default_rng(17)
    arr = rng.integers(0, 65535, (24, 24, 24), dtype=np.uint16)
    src = str(tmp_path / "tile_000003_ch_488")
    write_npy_pyramid(src, arr, n_levels=1)
    store = str(tmp_path / "zstd.zarr")
    settings = ConvertJobSettings(
        input_source=src,
        output_location=store,
        chunk_shape=(8, 8, 8),
        shard_shape=(16, 16, 16),
        codec="zstd",
        codec_level=3,
        downsample_levels=1,
        translate_pyramid=True,
    )
    convert_to_zarr(spark, settings)
    assert read_array_metadata(store, 0).codec == "zstd"
    got = read_array_region(
        store, 0,
        (slice(0, 1), slice(0, 1), slice(0, 24), slice(0, 24),
         slice(0, 24)),
    )[0, 0]
    np.testing.assert_array_equal(got, arr)
    # first inner chunk sits at offset 0 of the shard container -> the
    # file must open with the zstd frame magic
    shard0 = os.path.join(store, "0", "c", "0", "0", "0", "0", "0")
    first = open(shard0, "rb").read(4)
    assert first == b"\x28\xb5\x2f\xfd"
    def snapshot():
        return {
            os.path.relpath(os.path.join(dp, p), store): open(
                os.path.join(dp, p), "rb"
            ).read()
            for dp, _, fns in os.walk(store)
            for p in fns
        }

    before = snapshot()
    convert_to_zarr(spark, settings)  # idempotent re-run
    assert snapshot() == before


def test_pipeline_with_transpose(spark, tmp_path):
    """End-to-end conversion with transpose_order='C' stays voxel-exact
    (writer and reader both honor the permutation)."""
    import numpy as np

    from aind_exaspim_data_transformation_spark.config import (
        ConvertJobSettings,
    )
    from aind_exaspim_data_transformation_spark.sources.tensor import (
        write_npy_pyramid,
    )
    from aind_exaspim_data_transformation_spark.zarrio.format import (
        read_array_region,
    )
    from aind_exaspim_data_transformation_spark.zarrio.pipeline import (
        convert_to_zarr,
    )

    rng = np.random.default_rng(13)
    arr = rng.integers(0, 65535, (16, 16, 16), dtype=np.uint16)
    src = str(tmp_path / "tile_000002_ch_488")
    write_npy_pyramid(src, arr, n_levels=1)
    store = str(tmp_path / "trans.zarr")
    settings = ConvertJobSettings(
        input_source=src,
        output_location=store,
        chunk_shape=(8, 8, 8),
        shard_shape=(16, 16, 16),
        transpose_order="C",
        downsample_levels=1,
        translate_pyramid=True,
    )
    convert_to_zarr(spark, settings)
    got = read_array_region(
        store, 0,
        (slice(0, 1), slice(0, 1), slice(0, 16), slice(0, 16),
         slice(0, 16)),
    )[0, 0]
    np.testing.assert_array_equal(got, arr)
