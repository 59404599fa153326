"""Store-hash table: run a fixed list of conversions and print, per case,
the file count and a manifest hash of everything the case wrote.

The manifest hash is the 16-hex prefix of the sha256 of ``json.dumps`` of
the sorted ``[relative path, sha256]`` list of every file under the
case's output root. Two checkouts that print the same table wrote
byte-identical Zarr stores, which is how a refactor of the conversion
code proves it changed no output byte.

    python tools/store_hashes.py            # all cases
    python tools/store_hashes.py translate  # cases whose name contains it

Every input is seeded or synthetic and written into a temp dir, so the
table depends only on the checkout's code.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import tempfile
import zlib
from contextlib import contextmanager

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402

from aind_exaspim_data_transformation_spark.config import (  # noqa: E402
    ConvertJobSettings,
)
from aind_exaspim_data_transformation_spark.job import (  # noqa: E402
    TileJobSettings,
    run_job,
)
from aind_exaspim_data_transformation_spark.sources.tensor import (  # noqa: E402
    write_imaris_file,
    write_npy_pyramid,
)
from aind_exaspim_data_transformation_spark.zarrio import (  # noqa: E402
    multitile,
    pipeline,
)

SYNTH = dict(
    chunk_shape=(64, 64, 64),
    shard_shape=(128, 128, 128),
    codec="zstd",
    codec_level=3,
)


def manifest(root: str) -> tuple[int, str]:
    """(file count, manifest hash prefix) of every file under ``root``."""
    entries = []
    for dirpath, _dirs, files in os.walk(root):
        for name in files:
            path = os.path.join(dirpath, name)
            with open(path, "rb") as f:
                digest = hashlib.sha256(f.read()).hexdigest()
            entries.append([os.path.relpath(path, root), digest])
    blob = json.dumps(sorted(entries)).encode()
    return len(entries), hashlib.sha256(blob).hexdigest()[:16]


@contextmanager
def _group_cap(nbytes: int):
    """Run with ``pipeline.CASCADE_MAX_GROUP_BYTES`` set to ``nbytes``;
    0 makes every computed pyramid run one-step cascade passes."""
    saved = pipeline.CASCADE_MAX_GROUP_BYTES
    pipeline.CASCADE_MAX_GROUP_BYTES = nbytes
    try:
        yield
    finally:
        pipeline.CASCADE_MAX_GROUP_BYTES = saved


def _convert(spark, src, out, zarr_format=3, **kw):
    return pipeline.convert_to_zarr(
        spark,
        ConvertJobSettings(input_source=src, output_location=out, **kw),
        zarr_format=zarr_format,
    )


def _ims_tile(path: str) -> None:
    """A 96x160x144 chunked (32^3) gzip Imaris tile."""
    rng = np.random.default_rng(11)
    arr = rng.integers(0, 65535, size=(96, 160, 144), dtype=np.uint16)
    write_imaris_file(path, [arr], chunks=(32, 32, 32), compression="gzip")


def _corrupt_ims_tile(path: str) -> None:
    """A 32^3 chunked (8^3) gzip Imaris tile whose chunk (0,0,0) payload
    is overwritten, so reads touching it fail while the metadata probe
    stays intact."""
    rng = np.random.default_rng(7)
    arr = rng.integers(0, 65535, size=(32, 32, 32), dtype=np.uint16)
    write_imaris_file(path, [arr], chunks=(8, 8, 8), compression="gzip")
    payload = zlib.compress(np.ascontiguousarray(arr[:8, :8, :8]).tobytes(), 4)
    with open(path, "rb") as f:
        data = bytearray(f.read())
    idx = data.find(payload)
    assert idx > 0, "chunk payload not found"
    n = min(40, len(payload))
    data[idx : idx + n] = b"\xff" * n
    with open(path, "wb") as f:
        f.write(bytes(data))


def _job_dataset(root: str) -> None:
    """Two 40^3 two-level npy tiles."""
    rng = np.random.default_rng(42)
    for i in range(2):
        arr = rng.integers(0, 65535, size=(40, 40, 40), dtype=np.uint16)
        write_npy_pyramid(
            os.path.join(root, f"tile_{i:06d}_ch_488"), arr, n_levels=2
        )


def _multitile(
    spark, tmp: str, out: str, translate: bool = False, n_subsets: int = 0
) -> None:
    """Three edge-truncated npy tiles, one computed 3-level store each;
    with ``translate``, one copied level each, in ``n_subsets``
    ``partition_to_process`` subsets into one output when set. The
    plan's 16 groups span the three tiles, so three voxel-balanced
    subsets cut ranges that cross tile boundaries."""
    rng = np.random.default_rng(5)
    tiles = []
    for i, shape in enumerate([(20, 14, 10), (16, 16, 16), (9, 9, 9)]):
        arr = rng.integers(0, 65535, size=shape, dtype=np.uint16)
        src = os.path.join(tmp, f"mt_tile{i}")
        if not os.path.exists(src):
            write_npy_pyramid(src, arr, n_levels=1)
        tiles.append((src, os.path.join(out, f"store{i}.zarr")))
    settings = ConvertJobSettings(
        input_source="ignored",
        output_location="ignored",
        chunk_shape=(8, 8, 8),
        shard_shape=(8, 8, 8),
        translate_pyramid=translate,
        downsample_levels=3,
        downsample_mode="mean",
    )
    for p in range(n_subsets or 1):
        multitile.convert_tiles_to_zarr(
            spark, tiles, settings,
            partition_to_process=p if n_subsets else None,
            num_partitions=n_subsets or None,
        )


def _run_job(spark, tmp: str, out: str, **kw) -> None:
    root = os.path.join(tmp, "job_dataset")
    if not os.path.exists(root):
        os.makedirs(root)
        _job_dataset(root)
    resp = run_job(
        spark,
        TileJobSettings(
            input_source=root,
            output_location=out,
            chunk_shape=(16, 16, 16),
            shard_shape=(32, 32, 32),
            **kw,
        ),
    )
    assert resp.status_code == 200, resp.message


def _v2(spark, tmp: str, out: str) -> None:
    rng = np.random.default_rng(3)
    arr = rng.integers(0, 65535, size=(40, 50, 60), dtype=np.uint16)
    src = os.path.join(tmp, "v2_src")
    write_npy_pyramid(src, arr, n_levels=2)
    _convert(spark, src, out, zarr_format=2, chunk_shape=(16, 16, 16))


def _v2_quarantine(spark, tmp: str, out: str) -> None:
    path = os.path.join(tmp, "v2_corrupt.ims")
    _corrupt_ims_tile(path)
    _convert(
        spark, path, out, zarr_format=2, chunk_shape=(8, 8, 8),
        on_corrupt="quarantine",
    )


def _anisotropic_ims(spark, tmp: str, out: str) -> None:
    """A 32x64x64 chunked (16^3) gzip Imaris pyramid whose level 1 keeps
    Z and halves Y and X, with an anisotropic voxel, translated."""
    rng = np.random.default_rng(13)
    arr = rng.integers(0, 65535, size=(32, 64, 64), dtype=np.uint16)
    path = os.path.join(tmp, "anisotropic.ims")
    write_imaris_file(
        path, [arr, arr[:, ::2, ::2]], voxel_size=(2.0, 0.5, 0.5),
        chunks=(16, 16, 16), compression="gzip",
    )
    _convert(
        spark, path, out, chunk_shape=(16, 16, 16),
        shard_shape=(32, 32, 32),
    )


def _cascade(spark, out):
    _convert(
        spark, "synth://512,256,256,1", out, translate_pyramid=False,
        downsample_levels=3, downsample_mode="mean", **SYNTH,
    )


def _ims(tmp: str) -> str:
    path = os.path.join(tmp, "tile.ims")
    if not os.path.exists(path):
        _ims_tile(path)
    return path


def _ims_subsets(spark, tmp, out):
    """"translate ims" as two ``partition_to_process`` subsets into one
    output: each subset a voxel-balanced range of whole superchunk
    groups, together every shard."""
    settings = ConvertJobSettings(
        input_source=_ims(tmp), output_location=out,
        chunk_shape=(32, 32, 32), shard_shape=(64, 64, 64),
    )
    for p in range(2):
        multitile.convert_tiles_to_zarr(
            spark, [(settings.input_source, out)], settings,
            partition_to_process=p, num_partitions=2,
        )


def _ims_cascade(spark, tmp, out):
    _convert(
        spark, _ims(tmp), out, chunk_shape=(32, 32, 32),
        shard_shape=(64, 64, 64), translate_pyramid=False,
        downsample_levels=3, downsample_mode="mean",
    )


def _quarantine(spark, tmp, out):
    path = os.path.join(tmp, "corrupt.ims")
    _corrupt_ims_tile(path)
    _convert(
        spark, path, out, chunk_shape=(8, 8, 8), shard_shape=(16, 16, 16),
        translate_pyramid=False, downsample_levels=2,
        downsample_mode="mean", codec="gzip", codec_level=1,
        on_corrupt="quarantine",
    )


def _misaligned(spark, out, passes):
    """100x80x60, 4 levels over 18^3 shards (18 % 2^3 != 0); under a
    200,000-byte group cap the pyramid runs as passes [(0, 3), (2, 2)]:
    the cap puts level 0 over it, so on this session's 4 writer ranges
    level 3's one unit ends the first pass."""
    res = _convert(
        spark, "synth://100,80,60,1", out, chunk_shape=(6, 6, 6),
        shard_shape=(18, 18, 18), translate_pyramid=False,
        downsample_levels=4, downsample_mode="mean", codec="zstd",
        codec_level=3,
    )
    assert res["pyramid_passes"] == passes, res["pyramid_passes"]


def _capped(fn, nbytes: int):
    def run(*args):
        with _group_cap(nbytes):
            fn(*args)

    return run


#: name -> fn(spark, tmp, out); each case writes only under ``out``.
CASES = {
    "translate synth": lambda spark, tmp, out: _convert(
        spark, "synth://512,256,256,1", out, **SYNTH
    ),
    "translate synthnoise": lambda spark, tmp, out: _convert(
        spark, "synthnoise://512,256,256,1", out, **SYNTH
    ),
    "cascade synth 3-level": lambda spark, tmp, out: _cascade(spark, out),
    "depth-1 passes synth 3-level": _capped(
        lambda spark, tmp, out: _cascade(spark, out), 0
    ),
    "quarantine corrupt ims": _quarantine,
    "translate ims": lambda spark, tmp, out: _convert(
        spark, _ims(tmp), out, chunk_shape=(32, 32, 32),
        shard_shape=(64, 64, 64),
    ),
    "translate ims 2 partition subsets": _ims_subsets,
    "cascade ims 3-level": _ims_cascade,
    "run_job partition_mode=file": lambda spark, tmp, out: _run_job(
        spark, tmp, out, partition_mode="file"
    ),
    "run_job": lambda spark, tmp, out: _run_job(spark, tmp, out),
    "multitile cascade": _multitile,
    "multitile depth-1 passes": _capped(_multitile, 0),
    "multitile translate": lambda spark, tmp, out: _multitile(
        spark, tmp, out, translate=True
    ),
    "multitile translate 3 partition subsets": lambda spark, tmp, out: (
        _multitile(spark, tmp, out, translate=True, n_subsets=3)
    ),
    "v2 translate": _v2,
    "translate synth codec=none": lambda spark, tmp, out: _convert(
        spark, "synth://512,256,256,1", out,
        **{**SYNTH, "codec": "none"},
    ),
    "translate synth codec=none transpose=C": lambda spark, tmp, out: _convert(
        spark, "synth://512,256,256,1", out,
        **{**SYNTH, "codec": "none", "transpose_order": "C"},
    ),
    "one-pass synth misaligned 4-level": lambda spark, tmp, out: _misaligned(
        spark, out, [[0, 3]]
    ),
    "two-pass synth misaligned 4-level": _capped(
        lambda spark, tmp, out: _misaligned(spark, out, [[0, 2], [2, 3]]),
        200_000,
    ),
    "v2 quarantine corrupt ims": _v2_quarantine,
    "translate anisotropic ims 2-level": _anisotropic_ims,
}


def main(argv: list[str]) -> int:
    from aind_exaspim_data_transformation_spark.session import get_spark

    spark = get_spark("store-hashes", cpus=2)
    spark.sparkContext.setLogLevel("ERROR")
    with tempfile.TemporaryDirectory() as tmp:
        for i, (name, fn) in enumerate(CASES.items()):
            if argv and not any(a in name for a in argv):
                continue
            out = os.path.join(tmp, f"case{i}")
            fn(spark, tmp, out)
            n, digest = manifest(out)
            print(f"{name:42s} {n:4d} {digest}", flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
