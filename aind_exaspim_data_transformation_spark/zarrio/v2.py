"""Zarr v2 layout — the legacy-format store (SURVEY §2A X5).

The reference keeps a dask-based Zarr v2 writer for
``use_tensorstore=False`` (reference compress/imaris_to_zarr.py:807-990:
``zarr.create_dataset`` per level + ``da.to_zarr``, Blosc compressor).
Here v2 is a layout, not a second writer: ``convert_to_zarr_v2`` writes
each level's ``.zarray`` and hands the chunk grid to the one conversion
writer (``multitile._GlobalWriter`` through ``multitile._run_pass``),
which reads the layout back from ``.zarray`` (``read_v2_array_metadata``)
as it reads a v3 level's from zarr.json. So v2 shares its superchunk-
coalesced source reads, ``on_corrupt="quarantine"`` and stage stats; a
task row is one CHUNK (v2 has no shards).

The on-disk layout is the v2 spec: per-level ``.zarray`` JSON,
dot-separated chunk keys, and the zlib compressor (the stdlib-available
numcodecs codec; Blosc needs the numcodecs wheel and is gated out in
this environment). Chunks are zlib at ``codec_level`` whatever
``codec`` says. Only the source's own levels are copied: a computed
pyramid (``translate_pyramid=False``) is rejected.

Any zarr-python 2.x reader opens these stores.
"""

from __future__ import annotations

import json
import zlib
from dataclasses import dataclass

import numpy as np

from pyspark.sql import SparkSession

from ..config import ConvertJobSettings
from ..sources.tensor import open_source
from .format import grid_cells, region_bounds
from .kvstore import kv_get, kv_join, kv_put
from .metadata import multiscales_metadata


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


def convert_to_zarr_v2(
    spark: SparkSession, settings: ConvertJobSettings
) -> dict:
    """Copy the source's levels into a Zarr v2 store, one task row per
    chunk, with the one conversion writer. Returns ``stats``, the
    source-read stage dict (``n_shards`` counts written chunks)."""
    # Imported here: pipeline and multitile build on this module.
    from .multitile import _GlobalWriter, _run_pass, _task_rows
    from .pipeline import stage_dict

    if not settings.translate_pyramid:
        raise ValueError(
            "Zarr v2 output copies the source's own levels; a computed "
            "pyramid (translate_pyramid=False) is not supported"
        )
    src = open_source(settings.input_source)
    try:
        meta = src.meta
    finally:
        src.close()
    store = settings.output_location
    # The writer reads a level's zarr.json before its .zarray, so a v3
    # level left at the location would take the v2 chunks' place.
    for lvl in range(len(meta.shapes)):
        if kv_get(kv_join(store, str(lvl), "zarr.json")) is not None:
            raise ValueError(
                f"{store} already holds a Zarr v3 level {lvl}; write the "
                "v2 store to a fresh location"
            )
    tasks = []
    for lvl, shape in enumerate(meta.shapes):
        chunk = tuple(
            min(c, d) for c, d in zip(settings.chunk_shape, shape)
        )
        write_v2_array_metadata(
            store,
            lvl,
            V2Spec(
                shape=(1, 1, *shape),
                chunks=(1, 1, *chunk),
                dtype=meta.dtype,
                level=settings.codec_level,
            ),
        )
        tasks += _task_rows(
            settings.input_source, store, lvl, shape, chunk,
            settings.superchunk_multiple,
        )
    write_v2_group(
        store,
        multiscales_metadata(
            name=settings.input_source.rsplit("/", 1)[-1],
            n_levels=len(meta.shapes),
            voxel_zyx=meta.voxel_size,
            origin_zyx=meta.origin,
            factors_zyx=tuple(float(f) for f in settings.scale_factor),
            method=settings.downsample_mode,
        ),
    )
    (row,) = _run_pass(
        spark, tasks, settings.tasks_per_cpu,
        _GlobalWriter(settings.on_corrupt == "quarantine"),
    )
    stats = stage_dict(row)
    del stats["tile_path"]
    return {"n_levels": len(meta.shapes), "stats": stats, "store": store}
