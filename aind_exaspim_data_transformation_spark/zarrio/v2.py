"""Zarr v2 layout — the legacy-format store (SURVEY §2A X5).

The reference keeps a dask-based Zarr v2 writer for
``use_tensorstore=False`` (reference compress/imaris_to_zarr.py:807-990:
``zarr.create_dataset`` per level + ``da.to_zarr``, Blosc compressor).
Here v2 is only a layout: ``pipeline.convert_to_zarr(...,
zarr_format=2)`` runs the one planner (``multitile.plan_global_tasks``),
which builds a ``V2Spec`` per level and writes its ``.zarray``, and the
one writer (``multitile._GlobalWriter``), which reads the layout back
from ``.zarray`` (``read_v2_array_metadata``) as it reads a v3 level's
from zarr.json. So v2 shares its probe, group plan, superchunk-coalesced
source reads, ``on_corrupt="quarantine"`` and stage stats; its block
is one CHUNK (v2 has no shards).

This module holds the layout only: ``V2Spec``, the ``.zarray`` /
``.zgroup`` I/O, the chunk codec, ``v2_chunk_path`` and
``read_v2_region``. The on-disk layout is the v2 spec: per-level
``.zarray`` JSON, dot-separated chunk keys, and the zlib compressor
(the stdlib-available numcodecs codec; Blosc needs the numcodecs
wheel, which the package does not depend on). Chunks are zlib at
``codec_level`` whatever ``codec`` says. Only the source's own levels
are copied: the planner rejects a computed pyramid
(``translate_pyramid=False``).

Any zarr-python 2.x reader opens these stores.
"""

from __future__ import annotations

import json
import zlib
from dataclasses import dataclass

import numpy as np

from .format import grid_cells, region_bounds
from .kvstore import kv_get, kv_join, kv_put


@dataclass(frozen=True)
class V2Spec:
    shape: tuple[int, ...]  # 5-D (t, c, z, y, x)
    chunks: tuple[int, ...]
    dtype: str = "uint16"
    level: int = 1  # zlib level
    fill_value: int = 0

    @property
    def np_dtype(self) -> np.dtype:
        return np.dtype(self.dtype)

    @property
    def shard_shape(self) -> tuple[int, ...]:
        """The chunk, a v2 level's write unit (a v3 level's shard)."""
        return self.chunks

    @property
    def dtype_str(self) -> str:
        # v2 dtype encoding: explicit little-endian
        return self.np_dtype.newbyteorder("<").str


def write_v2_array_metadata(store: str, level: int, spec: V2Spec) -> str:
    meta = {
        "zarr_format": 2,
        "shape": list(spec.shape),
        "chunks": list(spec.chunks),
        "dtype": spec.dtype_str,
        "compressor": {"id": "zlib", "level": spec.level},
        "fill_value": spec.fill_value,
        "order": "C",
        "filters": None,
    }
    path = kv_join(store, str(level), ".zarray")
    return kv_put(path, json.dumps(meta, indent=2).encode("utf-8"))


def read_v2_array_metadata(store: str, level: int) -> V2Spec:
    """The level's ``V2Spec`` from its ``.zarray`` (the v2 twin of
    ``format.read_array_metadata``)."""
    blob = kv_get(kv_join(store, str(level), ".zarray"))
    if blob is None:
        raise FileNotFoundError(f"no .zarray for level {level} in {store}")
    meta = json.loads(blob)
    return V2Spec(
        shape=tuple(meta["shape"]),
        chunks=tuple(meta["chunks"]),
        dtype=np.dtype(meta["dtype"]).name,
        level=meta["compressor"]["level"],
        fill_value=meta["fill_value"],
    )


def write_v2_group(store: str, attributes: dict) -> None:
    kv_put(
        kv_join(store, ".zgroup"),
        json.dumps({"zarr_format": 2}).encode("utf-8"),
    )
    kv_put(
        kv_join(store, ".zattrs"),
        json.dumps(attributes, indent=2).encode("utf-8"),
    )


def encode_v2_chunk(block: np.ndarray, spec: V2Spec) -> bytes:
    """Pad to full chunk shape (v2 stores full chunks) and zlib-compress
    C-order little-endian bytes. Deterministic => idempotent re-writes."""
    target = spec.chunks
    if tuple(block.shape) != tuple(target):
        padded = np.full(target, spec.fill_value, dtype=spec.np_dtype)
        sl = tuple(slice(0, s) for s in block.shape)
        padded[sl] = block
        block = padded
    raw = np.ascontiguousarray(block).astype(
        spec.np_dtype.newbyteorder("<")
    ).tobytes(order="C")
    return zlib.compress(raw, spec.level)


def decode_v2_chunk(blob: bytes, spec: V2Spec) -> np.ndarray:
    raw = zlib.decompress(blob)
    return np.frombuffer(raw, dtype=spec.np_dtype.newbyteorder("<")).reshape(
        spec.chunks
    )


def v2_chunk_path(store: str, level: int, idx: tuple[int, ...]) -> str:
    return kv_join(store, str(level), ".".join(str(i) for i in idx))


def read_v2_region(
    store: str, level: int, region: tuple[slice, ...], spec: V2Spec
) -> np.ndarray:
    starts, stops = region_bounds(region, spec.shape)
    out = np.full(
        tuple(e - s for s, e in zip(starts, stops)),
        spec.fill_value,
        dtype=spec.np_dtype,
    )
    for idx, inner, outer in grid_cells(starts, stops, spec.chunks):
        blob = kv_get(v2_chunk_path(store, level, idx))
        if blob is not None:
            out[outer] = decode_v2_chunk(blob, spec)[inner]
    return out
