"""Poison-pill quarantine for tensor sources (round 11).

The reference's defensive-read posture (utils/utils.py:114-146 returns
empty on malformed JSON instead of raising) applied to the conversion
pipeline: with ``on_corrupt="quarantine"`` a truncated/corrupt tile
yields per-shard ERROR rows instead of failing the task — deterministic
decode errors defeat Spark's retries, so in strict mode one bad tile
aborts the whole job. Quarantined shards are simply not written and
read back as fill_value (Zarr v3: absent chunk == fill), so the output
store stays valid and every healthy byte converts.
"""

import os

import numpy as np
import pytest

from aind_exaspim_data_transformation_spark.config import ConvertJobSettings
from aind_exaspim_data_transformation_spark.operators.downsample import (
    downsample_block,
)
from aind_exaspim_data_transformation_spark.sources.tensor import (
    write_imaris_file,
)
from aind_exaspim_data_transformation_spark.zarrio.format import (
    read_array_metadata,
    read_array_region,
)
from aind_exaspim_data_transformation_spark.zarrio.multitile import (
    convert_tiles_to_zarr,
)
from aind_exaspim_data_transformation_spark.zarrio.pipeline import (
    convert_to_zarr,
)
from aind_exaspim_data_transformation_spark.zarrio.v2 import (
    read_v2_array_metadata,
    read_v2_region,
)


def _make_tile(path, seed=7):
    """Chunked+gzip Imaris tile; pair with ``_corrupt_chunk`` to break
    one chunk's reads while the metadata probe stays intact."""
    rng = np.random.default_rng(seed)
    arr = rng.integers(0, 65535, size=(32, 32, 32), dtype=np.uint16)
    write_imaris_file(
        str(path), [arr], chunks=(8, 8, 8), compression="gzip"
    )
    return arr


def _corrupt_chunk(path, arr):
    """Overwrite the compressed payload of chunk (0,0,0) in place:
    reads touching z<8,y<8,x<8 hit a broken zlib stream and raise,
    while the HDF5 metadata (written at the file tail) stays intact —
    the shape of real-world partial-write corruption."""
    import zlib

    payload = zlib.compress(
        np.ascontiguousarray(arr[0:8, 0:8, 0:8]).tobytes(order="C"), 4
    )
    data = bytearray(path.read_bytes())
    idx = data.find(payload)
    assert idx > 0, "chunk payload not found — fixture layout changed"
    n = min(40, len(payload))
    data[idx : idx + n] = b"\xff" * n
    path.write_bytes(bytes(data))


def _settings(src, store, **kw):
    return ConvertJobSettings(
        input_source=str(src),
        output_location=str(store),
        chunk_shape=(8, 8, 8),
        shard_shape=(16, 16, 16),
        translate_pyramid=False,
        downsample_levels=2,
        downsample_mode="mean",
        codec="gzip",
        codec_level=1,
        **kw,
    )


def _shard_files(store):
    out = {}
    for root, _dirs, files in os.walk(store):
        for f in files:
            p = os.path.join(root, f)
            out[os.path.relpath(p, store)] = open(p, "rb").read()
    return out


def test_strict_mode_fails_on_corrupt_tile(spark, tmp_path):
    tile = tmp_path / "tile.ims"
    arr = _make_tile(tile)
    _corrupt_chunk(tile, arr)
    with pytest.raises(Exception):
        convert_to_zarr(
            spark, _settings(tile, tmp_path / "out.zarr")
        )


def test_single_source_quarantined_at_probe_raises(spark, tmp_path):
    """A multi-tile job skips an unopenable tile; a single-source
    conversion has nothing left to convert, so it raises, naming the
    tile and the planner's quarantine message, before any Spark job."""
    garbage = tmp_path / "garbage.ims"
    garbage.write_bytes(b"not an hdf5 file at all" * 40)
    store = tmp_path / "out.zarr"
    sc = spark.sparkContext
    sc.setJobGroup("quarantined-source", "quarantined-source")
    try:
        with pytest.raises(RuntimeError, match=r"garbage\.ims.*\(open: "):
            convert_to_zarr(
                spark, _settings(garbage, store, on_corrupt="quarantine")
            )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("quarantined-source") == []
    assert not store.exists()


def test_quarantine_converts_every_healthy_shard(spark, tmp_path):
    tile = tmp_path / "tile.ims"
    arr = _make_tile(tile)

    clean = convert_to_zarr(
        spark, _settings(tile, tmp_path / "clean.zarr")
    )
    assert clean.get("n_errors", 0) == 0
    clean_files = _shard_files(str(tmp_path / "clean.zarr"))

    _corrupt_chunk(tile, arr)
    res = convert_to_zarr(
        spark,
        _settings(tile, tmp_path / "q.zarr", on_corrupt="quarantine"),
    )
    # Job completed; errors were counted, sampled, and level-0 shards
    # touching the broken chunks were withheld.
    assert res["n_errors"] >= 1
    stage0 = res["stages"][0]
    assert stage0["n_errors"] >= 1
    assert stage0["error_samples"], "expected locator samples"
    assert all(
        s["error"].startswith(("read:", "open:"))
        for s in stage0["error_samples"]
    )
    # Quarantine runs the fused cascade like any other run.
    assert res["pyramid_plan"] == "fused_cascade"

    q_files = _shard_files(str(tmp_path / "q.zarr"))
    missing = set(clean_files) - set(q_files)
    assert missing, "some level-0 shard should have been quarantined"
    # Every shard that WAS written is byte-identical to the clean run's
    # level-0 twin (deterministic encode; healthy data unaffected).
    lvl0_same = [
        k for k in q_files if k in clean_files and k.startswith("0/")
    ]
    assert lvl0_same
    for k in lvl0_same:
        assert q_files[k] == clean_files[k], k

    # The store remains readable: a quarantined region reads back as
    # fill_value, a healthy region as the source voxels.
    spec0 = read_array_metadata(str(tmp_path / "q.zarr"), 0)
    full = read_array_region(
        str(tmp_path / "q.zarr"),
        0,
        (slice(0, 1), slice(0, 1), slice(0, 32), slice(0, 32), slice(0, 32)),
        spec0,
    )[0, 0]
    quarantined_voxels = full != arr
    assert quarantined_voxels.any()
    assert (full[quarantined_voxels] == spec0.fill_value).all()
    assert (full == arr).any(), "healthy voxels must round-trip"
    # Shard granularity, not superchunk granularity: a failed group
    # read falls back to per-row reads, so ONLY the 16^3 shard owning
    # the corrupt 8^3 chunk is withheld — its superchunk partner and
    # every other shard must carry real voxels.
    assert len([k for k in missing if k.startswith("0/")]) == 1
    assert not quarantined_voxels[16:, :, :].any()
    assert not quarantined_voxels[:, 16:, :].any()
    assert not quarantined_voxels[:, :, 16:].any()
    # The cascade reduced level 0 as the store holds it: the withheld
    # shard's voxels count as fill_value in level 1.
    spec1 = read_array_metadata(str(tmp_path / "q.zarr"), 1)
    level1 = read_array_region(
        str(tmp_path / "q.zarr"),
        1,
        (slice(0, 1), slice(0, 1), slice(0, 16), slice(0, 16), slice(0, 16)),
        spec1,
    )[0, 0]
    np.testing.assert_array_equal(
        level1, downsample_block(full, (2, 2, 2), "mean")
    )

    # Deterministic + idempotent: re-running the quarantine job yields
    # byte-identical outputs and the same error count.
    res2 = convert_to_zarr(
        spark,
        _settings(tile, tmp_path / "q.zarr", on_corrupt="quarantine"),
    )
    assert res2["n_errors"] == res["n_errors"]
    assert _shard_files(str(tmp_path / "q.zarr")) == q_files


def test_v2_quarantine_withholds_only_the_corrupt_chunk(spark, tmp_path):
    """A v2 store runs the one writer, so it quarantines like a v3 one:
    the 8^3 chunk over the broken HDF5 chunk is withheld (its group's
    read fails and falls back to per-chunk reads), every other chunk is
    written, and the withheld one reads back as fill_value."""
    tile = tmp_path / "tile.ims"
    arr = _make_tile(tile)
    _corrupt_chunk(tile, arr)
    store = str(tmp_path / "v2.zarr")
    res = convert_to_zarr(
        spark,
        ConvertJobSettings(
            input_source=str(tile),
            output_location=store,
            chunk_shape=(8, 8, 8),
            on_corrupt="quarantine",
        ),
        zarr_format=2,
    )
    assert res["n_errors"] == 1
    stats = res["stages"][0]
    assert stats["n_errors"] == 1 and stats["n_shards"] == 4**3 - 1
    (sample,) = stats["error_samples"]
    assert (sample["level"], sample["iz"], sample["iy"], sample["ix"]) == (
        0, 0, 0, 0,
    )
    assert sample["error"].startswith("read:")

    keys = set(os.listdir(os.path.join(store, "0"))) - {".zarray"}
    every = {
        f"0.0.{iz}.{iy}.{ix}"
        for iz in range(4)
        for iy in range(4)
        for ix in range(4)
    }
    assert keys == every - {"0.0.0.0.0"}

    spec = read_v2_array_metadata(store, 0)
    full = read_v2_region(
        store, 0,
        (slice(0, 1), slice(0, 1), slice(0, 32), slice(0, 32), slice(0, 32)),
        spec,
    )[0, 0]
    assert (full[:8, :8, :8] == spec.fill_value).all()
    want = arr.copy()
    want[:8, :8, :8] = spec.fill_value
    np.testing.assert_array_equal(full, want)


def test_multitile_quarantine_isolates_poison_tiles(spark, tmp_path):
    good = tmp_path / "good.ims"
    arr = _make_tile(good, seed=3)
    truncated = tmp_path / "trunc.ims"
    arr_t = _make_tile(truncated, seed=4)
    _corrupt_chunk(truncated, arr_t)
    garbage = tmp_path / "garbage.ims"
    garbage.write_bytes(b"not an hdf5 file at all" * 40)

    tiles = [
        (str(good), str(tmp_path / "good.zarr")),
        (str(truncated), str(tmp_path / "trunc.zarr")),
        (str(garbage), str(tmp_path / "garbage.zarr")),
    ]
    settings = _settings(good, tmp_path / "unused.zarr")

    # Strict: the garbage tile kills the whole dataset at the driver
    # probe — the failure mode quarantine exists to avoid.
    with pytest.raises(Exception):
        convert_tiles_to_zarr(spark, tiles, settings)

    res = convert_tiles_to_zarr(
        spark,
        tiles,
        settings.model_copy(update={"on_corrupt": "quarantine"}),
    )
    # Unopenable tile: quarantined at the driver probe, no task rows.
    assert str(garbage) in res["quarantined_tiles"]
    assert res["quarantined_tiles"][str(garbage)].startswith("open:")
    # Truncated tile: opened, but its broken reads became error rows.
    assert res["tiles"][str(truncated)]["n_errors"] >= 1
    # Healthy tile: fully converted, zero errors, voxels intact.
    assert res["tiles"][str(good)]["n_errors"] == 0
    spec0 = read_array_metadata(str(tmp_path / "good.zarr"), 0)
    full = read_array_region(
        str(tmp_path / "good.zarr"),
        0,
        (slice(0, 1), slice(0, 1), slice(0, 32), slice(0, 32), slice(0, 32)),
        spec0,
    )[0, 0]
    assert (full == arr).all()


def test_streaming_ingest_quarantines_poison_manifest(spark, tmp_path):
    """A corrupt tile arriving on the manifest stream must not kill the
    stream: with on_corrupt="quarantine" the batch completes, the bad
    tile is recorded, and the healthy tile in the same micro-batch
    converts (settings flow through run_ingest -> convert_tiles_to_zarr
    unchanged)."""
    from aind_exaspim_data_transformation_spark.streaming.ingest import (
        run_ingest,
    )

    manifest_dir = tmp_path / "manifests"
    manifest_dir.mkdir()
    out_root = str(tmp_path / "stores")

    good = tmp_path / "tile_good.ims"
    arr = _make_tile(good, seed=11)
    bad = tmp_path / "tile_bad.ims"
    bad.write_bytes(b"\x00garbage" * 64)
    (manifest_dir / "a.manifest").write_text(f"{good}\n{bad}\n")

    settings = _settings(good, tmp_path / "unused.zarr").model_copy(
        update={"on_corrupt": "quarantine"}
    )
    results = run_ingest(spark, str(manifest_dir), out_root, settings)
    assert len(results) == 1
    assert str(bad) in results[0]["quarantined_tiles"]
    spec0 = read_array_metadata(f"{out_root}/tile_good.zarr", 0)
    full = read_array_region(
        f"{out_root}/tile_good.zarr",
        0,
        (slice(0, 1), slice(0, 1), slice(0, 32), slice(0, 32), slice(0, 32)),
        spec0,
    )[0, 0]
    assert (full == arr).all()
