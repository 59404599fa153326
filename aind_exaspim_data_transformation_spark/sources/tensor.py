"""Tensor (voxel pyramid) sources.

Executors open sources by path string inside the writer UDF (the
reference makes the same choice: tasks carry coordinates, the HDF5 file is
re-opened per task, reference compress/imaris_to_zarr.py:434,516-527).

Backends:
- ``NpyPyramidSource``   directory of level_{k}.npy + meta.json; memmap
  hyperslab reads. The test backend (h5py absent in this environment).
- ``SyntheticSource``    ``synth://Z,Y,X[,levels]`` — deterministic values
  computed from coordinates; no I/O at all.
- ``Hdf5ImarisSource``   real Imaris (.ims/.h5) files via h5py, gated on
  import; reproduces the reference's attribute-decoding quirks
  (scalar attrs stored as byte arrays, reference utils/io_utils.py:461-466)
  and the padded-vs-metadata shape distinction (:430-525).
"""

from __future__ import annotations

import json
import math
import os
from dataclasses import dataclass

import numpy as np

IMARIS_DATA_PATH = "DataSet/ResolutionLevel {l}/TimePoint {t}/Channel {c}/Data"


def open_h5(path: str):
    """Open an HDF5 file with h5py when installed, else the built-in
    pure-Python subset reader (sources/minihdf5.py) — same ``File`` /
    ``Group`` / ``Dataset`` / ``.attrs`` surface either way, so the
    Imaris branch is exercised even where h5py is absent."""
    try:
        import h5py

        return h5py.File(path, "r")
    except ImportError:
        from . import minihdf5

        return minihdf5.File(path, "r")


@dataclass
class SourceMeta:
    dtype: str
    shapes: list[tuple[int, int, int]]  # per-level metadata (true) shapes
    voxel_size: tuple[float, float, float] = (1.0, 1.0, 1.0)  # ZYX um
    origin: tuple[float, float, float] = (0.0, 0.0, 0.0)


def true_shapes_from_padded(
    meta_shape: tuple[int, int, int],
    padded_shapes: list[tuple[int, int, int]],
) -> list[tuple[int, int, int]]:
    """Derive unpadded per-level shapes from padded HDF5 dataset shapes.

    Imaris pads each level's dataset to chunk multiples; the authoritative
    full-resolution shape comes from DataSetInfo metadata. Coarser levels
    carry no metadata shape, so it is reconstructed by scaling the
    metadata shape with the padded-shape ratio per axis (the reference's
    get_true_shape_for_level walk, utils/io_utils.py:468-525; regression
    tests at tests/test_imaris_job.py:1309-1387).
    """
    if not padded_shapes:
        return [meta_shape]
    padded0 = padded_shapes[0]
    out = [meta_shape]
    for padded in padded_shapes[1:]:
        out.append(
            tuple(
                max(1, round(m * p / p0))
                for m, p, p0 in zip(meta_shape, padded, padded0)
            )
        )
    return out


class TensorSource:
    """Protocol: 3-D (Z, Y, X) pyramid reads by level + hyperslab."""

    meta: SourceMeta

    def read_block(
        self, level: int, z0: int, z1: int, y0: int, y1: int, x0: int, x1: int
    ) -> np.ndarray:
        raise NotImplementedError

    def close(self) -> None:  # pragma: no cover - trivial
        pass


class NpyPyramidSource(TensorSource):
    """Directory of ``level_{k}.npy`` + ``meta.json``; memmapped reads so a
    hyperslab touches only the pages it covers (the npy analog of the
    reference's HDF5 hyperslab read, utils/io_utils.py:122-151)."""

    def __init__(self, path: str):
        self.path = path
        with open(os.path.join(path, "meta.json")) as f:
            raw = json.load(f)
        self.meta = SourceMeta(
            dtype=raw["dtype"],
            shapes=[tuple(s) for s in raw["shapes"]],
            voxel_size=tuple(raw.get("voxel_size", (1.0, 1.0, 1.0))),
            origin=tuple(raw.get("origin", (0.0, 0.0, 0.0))),
        )
        self._mm: dict[int, np.ndarray] = {}

    def _level(self, level: int) -> np.ndarray:
        if level not in self._mm:
            self._mm[level] = np.load(
                os.path.join(self.path, f"level_{level}.npy"), mmap_mode="r"
            )
        return self._mm[level]

    def read_block(self, level, z0, z1, y0, y1, x0, x1):
        return np.asarray(self._level(level)[z0:z1, y0:y1, x0:x1])


def write_npy_pyramid(
    path: str,
    level0: np.ndarray,
    n_levels: int = 1,
    voxel_size: tuple[float, float, float] = (1.0, 1.0, 1.0),
    origin: tuple[float, float, float] = (0.0, 0.0, 0.0),
) -> str:
    """Materialize a synthetic pyramid (2x mean-downsampled) for tests."""
    from ..operators.downsample import downsample_block

    os.makedirs(path, exist_ok=True)
    shapes = []
    arr = level0
    for lvl in range(n_levels):
        np.save(os.path.join(path, f"level_{lvl}.npy"), arr)
        shapes.append([int(d) for d in arr.shape])
        if lvl + 1 < n_levels:
            arr = downsample_block(arr, (2, 2, 2), "mean").astype(
                level0.dtype
            )
    with open(os.path.join(path, "meta.json"), "w") as f:
        json.dump(
            {
                "dtype": str(level0.dtype),
                "shapes": shapes,
                "voxel_size": list(voxel_size),
                "origin": list(origin),
            },
            f,
        )
    return path


class SyntheticSource(TensorSource):
    """``synth://Z,Y,X[,levels]``: voxel value = flat C-order index of the
    coordinate at that level, mod dtype range. Zero I/O — useful for
    benchmarking the pure write path."""

    def __init__(self, path: str):
        spec = path.removeprefix("synth://")
        parts = [int(p) for p in spec.split(",")]
        z, y, x = parts[:3]
        n_levels = parts[3] if len(parts) > 3 else 1
        shapes = []
        sz, sy, sx = z, y, x
        for _ in range(n_levels):
            shapes.append((sz, sy, sx))
            sz, sy, sx = (
                math.ceil(sz / 2),
                math.ceil(sy / 2),
                math.ceil(sx / 2),
            )
        self.meta = SourceMeta(dtype="uint16", shapes=shapes)

    def read_block(self, level, z0, z1, y0, y1, x0, x1):
        # Broadcasting in uint32 (mod-2^16 arithmetic is exact in any
        # width): ~20x faster than a meshgrid + int64 modulo.
        _, sy, sx = self.meta.shapes[level]
        z = np.arange(z0, z1, dtype=np.uint32)[:, None, None]
        y = np.arange(y0, y1, dtype=np.uint32)[None, :, None]
        x = np.arange(x0, x1, dtype=np.uint32)[None, None, :]
        flat = (z * np.uint32(sy) + y) * np.uint32(sx) + x
        return flat.astype(np.uint16)


class SyntheticNoiseSource(SyntheticSource):
    """``synthnoise://Z,Y,X[,levels]``: calibrated shot-noise tensor —
    the realistic-entropy twin of ``synth://`` (round-10 verdict, Next
    #6). The plain ramp compresses ~65:1, flattering codec-path GB/s;
    real microscopy lands ~2-3:1. This source models that regime:

    - sparse bright structure (~12% of voxels) on a dark background —
      a separable product of sinusoids thresholded at its upper range,
      so "blobs" with ~100-voxel periods, generated from per-axis
      vectors (cheap) then broadcast;
    - Poisson-matched shot noise: a coordinate-hashed uniform
      (Knuth-multiplicative + xorshift finalizer, no RNG state) scaled
      by ``sqrt(signal)`` — variance equals a true Poisson's.

    Measured: ~2.0:1 under gzip-1 on 16-bit voxels. Deterministic and
    block-boundary-independent: every voxel is a pure function of its
    absolute (level, z, y, x), so any tiling reads identical data —
    the same contract the Zarr idempotence tests rely on.
    """

    _BASE = np.float32(100.0)  # dark-background photon level
    _AMP = np.float32(3000.0)  # bright-structure peak above it

    def __init__(self, path: str):
        super().__init__("synth://" + path.removeprefix("synthnoise://"))

    def read_block(self, level, z0, z1, y0, y1, x0, x1):
        _, sy, sx = self.meta.shapes[level]
        z = np.arange(z0, z1, dtype=np.uint32)[:, None, None]
        y = np.arange(y0, y1, dtype=np.uint32)[None, :, None]
        x = np.arange(x0, x1, dtype=np.uint32)[None, None, :]
        two_pi = 2 * np.pi
        gz = (0.5 * (1 + np.sin(two_pi * np.arange(z0, z1) / 97.0))).astype(
            np.float32
        )[:, None, None]
        gy = (0.5 * (1 + np.sin(two_pi * np.arange(y0, y1) / 131.0))).astype(
            np.float32
        )[None, :, None]
        gx = (0.5 * (1 + np.sin(two_pi * np.arange(x0, x1) / 173.0))).astype(
            np.float32
        )[None, None, :]
        sig = np.maximum(
            gz * gy * gx - np.float32(0.5), np.float32(0)
        ) * np.float32(2.0)
        s = self._BASE + self._AMP * sig
        # counter-based hash of the flat index (+level) -> uniform [0,1)
        flat = (z * np.uint32(sy) + y) * np.uint32(sx) + x
        h = (flat + np.uint32(level * 0x9E3779B9)) * np.uint32(2654435761)
        h ^= h >> np.uint32(16)
        h *= np.uint32(0x45D9F3B)
        h ^= h >> np.uint32(16)
        u = h.astype(np.float32) * np.float32(1 / 2**32)
        # (u-0.5)*2*sqrt(3) has unit variance -> scale by sqrt(s)
        v = s + (u - np.float32(0.5)) * np.float32(3.4641016) * np.sqrt(s)
        return np.clip(v, 0, 65535).astype(np.uint16)


def write_imaris_file(
    path: str,
    levels: list[np.ndarray],
    meta_shape: tuple[int, int, int] | None = None,
    ext_min: tuple[float, float, float] = (0.0, 0.0, 0.0),
    voxel_size: tuple[float, float, float] = (1.0, 1.0, 1.0),
    timepoint: int = 0,
    channel: int = 0,
    chunks: tuple[int, int, int] | None = None,
    compression: str | None = None,
    compression_level: int = 4,
    shuffle: bool = False,
) -> str:
    """Write a minimal Imaris-layout HDF5 file (test fixture twin of the
    reference's fixture writer, tests/test_imaris_job.py).

    ``levels`` are the PADDED per-level arrays exactly as stored on disk;
    ``meta_shape`` is the authoritative unpadded full-res shape recorded
    in DataSetInfo (defaults to levels[0].shape, i.e. no padding).
    Scalar attrs are stored as byte-char arrays — the quirk readers must
    ``.tobytes()`` through (reference utils/io_utils.py:461-466).
    ``chunks``/``compression`` select chunked (optionally gzip'd) Data
    datasets — the layout real Imaris files use (the reference plans
    reads around native HDF5 chunks, utils/io_utils.py:96-99).
    """
    from . import minihdf5

    def data_leaf(arr: np.ndarray):
        if chunks is None:
            return arr
        return (
            arr,
            {
                "chunks": tuple(min(c, s) for c, s in zip(chunks, arr.shape)),
                "compression": compression,
                "compression_level": compression_level,
                "shuffle": shuffle,
            },
        )

    mz, my, mx = meta_shape or levels[0].shape
    ext_max = (
        ext_min[0] + voxel_size[0] * mz,
        ext_min[1] + voxel_size[1] * my,
        ext_min[2] + voxel_size[2] * mx,
    )
    a = minihdf5.str_attr
    res_levels = {
        f"ResolutionLevel {lvl}": {
            f"TimePoint {timepoint}": {
                f"Channel {channel}": {
                    "Data": data_leaf(arr),
                    "@attrs": {
                        "ImageSizeZ": a(arr.shape[0]),
                        "ImageSizeY": a(arr.shape[1]),
                        "ImageSizeX": a(arr.shape[2]),
                    },
                }
            }
        }
        for lvl, arr in enumerate(levels)
    }
    tree = {
        "DataSet": res_levels,
        "DataSetInfo": {
            "Image": {
                "@attrs": {
                    "Z": a(mz), "Y": a(my), "X": a(mx),
                    "ExtMin2": a(ext_min[0]),
                    "ExtMin1": a(ext_min[1]),
                    "ExtMin0": a(ext_min[2]),
                    "ExtMax2": a(ext_max[0]),
                    "ExtMax1": a(ext_max[1]),
                    "ExtMax0": a(ext_max[2]),
                },
            }
        },
    }
    return minihdf5.write_file(path, tree)


class Hdf5ImarisSource(TensorSource):
    """Real Imaris reader (h5py when installed, minihdf5 subset reader
    otherwise). Scalar attributes arrive as byte
    arrays of characters and are decoded via ``.tobytes()`` (the quirk the
    reference handles at utils/io_utils.py:461-466, :576-579); the
    authoritative shape comes from DataSetInfo/Image attrs, not the padded
    HDF5 dataset shape (:430-525)."""

    def __init__(self, path: str, timepoint: int = 0, channel: int = 0):
        self._f = open_h5(path)
        self._t, self._c = timepoint, channel
        n_levels = 0
        while (
            IMARIS_DATA_PATH.format(l=n_levels, t=timepoint, c=channel)
            in self._f
        ):
            n_levels += 1
        info = self._f["DataSetInfo/Image"]

        def _attr_int(key: str) -> int:
            return int(info.attrs[key].tobytes())

        meta_shape = (_attr_int("Z"), _attr_int("Y"), _attr_int("X"))
        ext_min = tuple(
            float(info.attrs[k].tobytes()) for k in ("ExtMin2", "ExtMin1", "ExtMin0")
        )
        ext_max = tuple(
            float(info.attrs[k].tobytes()) for k in ("ExtMax2", "ExtMax1", "ExtMax0")
        )
        voxel = tuple(
            (hi - lo) / n for lo, hi, n in zip(ext_min, ext_max, meta_shape)
        )
        shapes = true_shapes_from_padded(
            meta_shape,
            [self._dataset(lvl).shape for lvl in range(n_levels)],
        )
        self.meta = SourceMeta(
            dtype=str(self._dataset(0).dtype),
            shapes=shapes,
            voxel_size=voxel,
            origin=ext_min,
        )

    def _dataset(self, level: int):
        return self._f[
            IMARIS_DATA_PATH.format(l=level, t=self._t, c=self._c)
        ]

    def read_block(self, level, z0, z1, y0, y1, x0, x1):
        return self._dataset(level)[z0:z1, y0:y1, x0:x1]

    def close(self) -> None:
        self._f.close()


def open_source(path: str) -> TensorSource:
    """Dispatch by scheme/extension; called on executors inside UDFs."""
    if path.startswith("synthnoise://"):
        return SyntheticNoiseSource(path)
    if path.startswith("synth://"):
        return SyntheticSource(path)
    if path.endswith((".ims", ".h5")):
        return Hdf5ImarisSource(path)
    if os.path.isdir(path) and os.path.exists(
        os.path.join(path, "meta.json")
    ):
        return NpyPyramidSource(path)
    raise ValueError(f"unrecognized tensor source: {path!r}")
